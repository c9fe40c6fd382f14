"""analytics_e2e — the read/analytic path, every query built fresh.

Set-up synthesizes the TPC-H-like tables at sf 0.01 for the seed and fills
the engine's table cache (SPARK_GRAFT_CACHE_TABLES=1, the scan layer).
Each pass builds every registry query of MIX anew, collects its
result and calls `release_pinned()`, so nothing from an earlier pass is
reused. The first pass is the cold one a new CLI process pays; pass times
keep falling for a few more while the JIT compiles the planner's hot
paths, so WARMUP_PASSES passes run untimed before the measured ones.

Checked every run, untimed: every pass returns exactly what the cold pass
returned, with the same job and pin counts, and each mix query with an
oracle equals DuckDB under the registry's exact comparator (the one
tools/pandas_parity_check.py applies). The traced run also runs the
genmock report
(`stats_report`, every named stat collected) and the `validate` CLI's
phases over N_EVENTS stormgen events; the report's total/by_type/by_state
must equal a plain-Python count of the generated rows and every validate
check must pass.
"""

from __future__ import annotations

import collections
import os
import time

from pyspark.sql import functions as F

import harness as H
import inputs
from storm_data_etl_spark.functions.enrich import enrich_raw
from storm_data_etl_spark.plans import enrich_queries, lake_queries, ml_queries  # noqa: F401
from storm_data_etl_spark.plans import validate as V
from storm_data_etl_spark.plans import window_queries  # noqa: F401
from storm_data_etl_spark.plans.queries import REGISTRY
from storm_data_etl_spark.plans.storm_report import stats_report
from storm_data_etl_spark.plans.tables import t
from storm_data_etl_spark.session import release_pinned
from storm_data_etl_spark.streaming.pipeline import split_poison

#: The analytic mix: registry queries, built fresh for every pass.
MIX = (
    "pricing_summary",
    "join_multiway",
    "session_window_agg",
    "minhash_lsh_pairs",
    "curation_funnel",
    "hits_hub_authority",
)
N_EVENTS = 10_000
SCALE = 0.01
WARMUP_PASSES = 2
MIN_WARM = 2
TABLES = ("region", "nation", "customer", "supplier", "orders", "lineitem", "events", "documents")


def persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def canon(pdf):
    """The registry's oracle comparator: columns sorted by name, rows
    sorted, every cell compared as its str()."""
    pdf = pdf[sorted(pdf.columns)]
    pdf = pdf.sort_values(by=list(pdf.columns)).reset_index(drop=True)
    return [list(pdf.columns)] + [[str(x) for x in row] for row in pdf.itertuples(index=False)]


def _pass(run, tables: str, baseline_rdds: int) -> tuple[float, dict, dict]:
    """One pass over the mix; returns (seconds, per-layer record,
    {query: result})."""
    spark, tr = run.spark, run.tracer
    rec: dict = {}
    out: dict = {}
    t0 = time.perf_counter()
    with tr.span("analytics.pass"):
        for q in MIX:
            with tr.span(f"query.{q}"), run.jobs.group() as grp:
                a = time.perf_counter()
                df = REGISTRY[q].runner(spark, tables)
                b = time.perf_counter()
                pdf = df.toPandas()
                c = time.perf_counter()
                pins = release_pinned()
            rec[f"query.{q}.build_s"] = b - a
            rec[f"query.{q}.run_s"] = c - b
            rec[f"query.{q}.jobs"] = grp["jobs"]
            rec[f"query.{q}.pins"] = pins
            rec[f"query.{q}.leaked_rdds"] = persistent_rdds(spark) - baseline_rdds
            out[q] = pdf
    return time.perf_counter() - t0, rec, out


def run(run) -> None:
    os.environ["SPARK_GRAFT_CACHE_TABLES"] = "1"
    start_s = run.start()
    spark = run.spark
    tables = run.path("tables")
    gens = []
    for _ in range(H.SETUP_REPS):
        with run.tracer.span("sources.gen"):
            t0 = time.perf_counter()
            table_rows = inputs.synth_tables(run.seed, tables, SCALE)
            gens.append(time.perf_counter() - t0)
    gen_s = H.median(gens)
    with run.tracer.span("tables.fill"):
        t0 = time.perf_counter()
        for name in TABLES:
            t(spark, tables, name).count()
        fill_s = time.perf_counter() - t0
    baseline_rdds = persistent_rdds(spark)
    run.metrics.update(
        {
            "setup_s": start_s + gen_s + fill_s,
            "sources.gen_s": gen_s,
            "tables.fill_s": fill_s,
            "sources.input_rows": sum(table_rows.values()),
            "sources.input_bytes": H.dir_bytes(tables),
        }
    )

    def same_as_cold(out: dict, rec: dict, label: str) -> None:
        run.ops += 1
        for q in MIX:
            run.check(f"{label}.{q}.same", canon(out[q]) == canon(first[q]))
            for count in ("jobs", "pins"):
                key = f"query.{q}.{count}"
                run.check(f"{label}.{key}_repeat", rec[key] == cold_rec[key],
                          f"{rec[key]} != {cold_rec[key]}")

    cold_s, cold_rec, first = _pass(run, tables, baseline_rdds)
    run.ops += 1
    for i in range(WARMUP_PASSES):
        _, rec, out = _pass(run, tables, baseline_rdds)
        same_as_cold(out, rec, f"warmup{i + 1}")
    # A traced run alternates traced and untraced passes; the untraced
    # ones give the pass time, the ratio of the two the tracing overhead.
    warm: list[float] = []
    traced: list[float] = []
    recs: list[dict] = []
    t_end = time.perf_counter() + run.seconds
    while (
        time.perf_counter() < t_end
        or len(warm) < MIN_WARM
        or (run.trace and len(traced) < MIN_WARM)
    ):
        run.tracer.enabled = run.trace and len(recs) % 2 == 1
        dt, rec, out = _pass(run, tables, baseline_rdds)
        (traced if run.tracer.enabled else warm).append(dt)
        recs.append(rec)
        same_as_cold(out, rec, f"pass{len(recs)}")
    run.tracer.enabled = run.trace
    _check_oracles(run, tables, first)

    p50 = H.median(warm)
    run.samples.update({"setup.gen_s": gens, "pass_s": warm})
    run.metrics.update(
        {
            "pass_s": p50,
            "analytics_pass_s": p50,
            "analytics_cold_pass_s": cold_s,
        }
    )
    for key in recs[0]:
        run.metrics[key] = H.median([r[key] for r in recs])
    for q in MIX:
        run.metrics[f"query.{q}.cold_s"] = (
            cold_rec[f"query.{q}.build_s"] + cold_rec[f"query.{q}.run_s"]
        )
    if run.trace:
        run.metrics["trace.overhead_frac"] = H.median(traced) / p50 - 1.0
        _report(run)


def _check_oracles(run, tables: str, first: dict) -> None:
    """Each mix query with an oracle against DuckDB over the same parquet."""
    import duckdb

    con = duckdb.connect()
    try:
        for name in TABLES:
            path = os.path.join(tables, f"{name}.parquet")
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        for q in MIX:
            oracle = REGISTRY[q].oracle
            if oracle is None:
                continue
            ours, theirs = canon(first[q]), canon(con.execute(oracle).df())
            diff = [(a, b) for a, b in zip(ours, theirs) if a != b][:2]
            run.check(f"oracle.{q}", ours == theirs,
                      f"{len(ours) - 1} rows vs duckdb {len(theirs) - 1}, "
                      f"first differing (spark, duckdb) rows: {diff}")
    finally:
        con.close()


def _report(run) -> None:
    """The genmock report and the validate phases over N_EVENTS stormgen
    events, each timed on its own, with their outputs checked."""
    spark = run.spark
    events = run.path("events")
    with run.tracer.span("sources.gen"):
        lines, rows = inputs.payload_lines(run.seed, N_EVENTS)
        inputs.write_lines(lines, events, spark.sparkContext.defaultParallelism)

    with run.tracer.span("storm_report"), run.jobs.group() as grp:
        t0 = time.perf_counter()
        good_parsed, _ = split_poison(inputs.read_envelopes(spark, events))
        enriched = enrich_raw(good_parsed, processed_at=H.PROCESSED_AT)
        stats = {
            name: sorted((tuple(r) for r in df.collect()), key=repr)
            for name, df in stats_report(enriched).items()
        }
        run.metrics["storm_report.s"] = time.perf_counter() - t0
    run.metrics["storm_report.jobs"] = grp["jobs"]
    run.ops += 1
    good = [r for r, line in zip(rows, lines) if line != inputs.POISON]
    run.check("stats.total", stats["total"] == [(len(good),)],
              f"{stats['total']} != {len(good)}")
    by_type = collections.Counter(r[10] for r in good)
    run.check("stats.by_type", dict(stats["by_type"]) == by_type,
              f"{stats['by_type']} != {sorted(by_type.items())}")
    by_state = collections.Counter(r[6] for r in good)
    run.check("stats.by_state", dict(stats["by_state"]) == by_state,
              f"{stats['by_state']} != {sorted(by_state.items())}")
    n_good = stats["total"][0][0]
    run.metrics.update(
        {
            "enrich.rows_out": n_good,
            "enrich.dead_rows": N_EVENTS - n_good,
            "enrich.valid_frac": n_good / N_EVENTS,
        }
    )

    # The validate CLI's phases: 2 on the raw records, 3 re-derived
    # enrichment vs the enriched output by id, 4 schema alignment.
    with run.tracer.span("validate"), run.jobs.group() as grp:
        t0 = time.perf_counter()
        raw = good_parsed.drop("_valid", "_base_ts").withColumn(
            "_pos", F.monotonically_increasing_id()
        )
        expected = enrich_raw(
            raw.withColumn("_base_ts", F.lit(inputs.ENVELOPE_TS).cast("timestamp")),
            processed_at=H.PROCESSED_AT,
        ).withColumn("_pos", F.monotonically_increasing_id())
        checks = V.phase2_etl_integrity(raw, raw)
        checks += V.phase3_api_transformation(expected, enriched, "_pos")
        checks += V.phase4_schema_alignment(V._flatten(enriched))
        results = V.run_all(checks)
        run.metrics["validate.s"] = time.perf_counter() - t0
    run.metrics["validate.jobs"] = grp["jobs"]
    run.ops += 1
    for name, ok in results.items():
        run.check(f"validate.{name}", ok)
