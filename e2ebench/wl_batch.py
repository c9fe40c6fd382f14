"""etl_batch — the batch write path.

Set-up writes N_ROWS stormgen envelopes (1% poison pills, half the
`Location` strings bare place names) as JSON-lines text. Each pass runs
envelope → split_poison → enrich_raw → serialize_events into a sink that
folds every serialized key/value into an order-insensitive digest, and
sinks the dead letters the same way. No shuffle: per-row enrichment and serialization dominate.
"""

from __future__ import annotations

import glob
import os
import time

from pyspark.sql import functions as F

import harness as H
import inputs
import stream
from storm_data_etl_spark.functions.enrich import enrich_raw
from storm_data_etl_spark.sources.kafka import serialize_events
from storm_data_etl_spark.streaming.pipeline import split_poison

N_ROWS = 60_000
MIN_WARM = 3
#: untimed passes after the cold one, before measuring
WARMUP_S = 8.0


def _plan(spark, path: str):
    env = inputs.read_envelopes(spark, path)
    good_parsed, dead = split_poison(env)
    enriched = enrich_raw(good_parsed, processed_at=H.PROCESSED_AT)
    return env, good_parsed, dead, enriched, serialize_events(enriched)


def _sink(ser, dead) -> dict:
    """The two sink actions: (count, digest, bytes) of the serialized good
    rows and (count, digest) of the dead-letter envelopes."""
    g = ser.agg(
        *H.spark_digest_aggs(F.xxhash64("key", "value")),
        F.sum(F.length("key") + F.length("value")),
    ).collect()[0]
    d = dead.agg(*H.spark_digest_aggs(F.xxhash64("value"))).collect()[0]
    good, dead_d = H.Digest(), H.Digest()
    good.add_sums(g[0], g[1] or 0, g[2] or 0)
    dead_d.add_sums(d[0], d[1] or 0, d[2] or 0)
    return {"good": good, "dead": dead_d, "bytes": int(g[3] or 0)}


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _pass(run, path: str) -> tuple[float, dict, int]:
    with run.jobs.group() as grp:
        t0 = time.perf_counter()
        _, _, dead, _, ser = _plan(run.spark, path)
        out = _sink(ser, dead)
        dt = time.perf_counter() - t0
    return dt, out, grp["jobs"]


def _traced_pass(run, path: str) -> tuple[dict, dict]:
    """Noop actions on nested prefixes of the dataflow — scan, + split,
    + enrich, + serialize/sink — each under its span; a layer's time is the
    difference between consecutive prefixes."""
    tr = run.tracer
    times = {}
    t_pass = time.perf_counter()
    with tr.span("etl.pass"):
        with tr.span("etl.plan"):
            t0 = time.perf_counter()
            env, good_parsed, dead, enriched, ser = _plan(run.spark, path)
            times["etl.plan"] = time.perf_counter() - t0
        for name, action in (
            ("sources.scan", lambda: _noop(env)),
            ("enrich.split", lambda: _noop(good_parsed)),
            ("enrich.enrich", lambda: _noop(enriched)),
        ):
            with tr.span(name):
                t0 = time.perf_counter()
                action()
                times[name] = time.perf_counter() - t0
        with tr.span("kafka.serialize"):
            t0 = time.perf_counter()
            out = _sink(ser, dead)
            times["kafka.serialize"] = time.perf_counter() - t0
    times["etl.pass"] = time.perf_counter() - t_pass
    return times, out


def run(run) -> None:
    seed = run.seed
    start_s = run.start()
    spark = run.spark
    src = run.path("envelopes")
    cpus = spark.sparkContext.defaultParallelism
    gens = []
    for _ in range(H.SETUP_REPS):
        with run.tracer.span("sources.gen"):
            t0 = time.perf_counter()
            lines, _ = inputs.payload_lines(seed, N_ROWS)
            inputs.write_lines(lines, src, cpus)
            gens.append(time.perf_counter() - t0)
    gen_s = H.median(gens)
    exp_good, exp_dead = inputs.expected_split(seed, 0, N_ROWS)
    run.metrics.update(
        {
            "setup_s": start_s + gen_s,
            "sources.gen_s": gen_s,
            "sources.input_rows": N_ROWS,
            "sources.input_bytes": H.dir_bytes(src),
        }
    )

    first: dict | None = None
    first_jobs: int | None = None

    def verify(out: dict, label: str, jobs: int | None = None) -> None:
        nonlocal first, first_jobs
        run.ops += 1
        if jobs is not None:
            if first_jobs is None:
                first_jobs = jobs
            run.check(f"{label}.jobs_repeat", jobs == first_jobs, f"{jobs} != {first_jobs}")
        run.check(f"{label}.good_rows", out["good"].count == exp_good,
                  f"{out['good'].count} != {exp_good}")
        run.check(f"{label}.dead_rows", out["dead"].count == exp_dead,
                  f"{out['dead'].count} != {exp_dead}")
        if first is None:
            first = out
        else:
            run.check(f"{label}.digest", out["good"].value() == first["good"].value()
                      and out["dead"].value() == first["dead"].value(),
                      f"{out['good'].value()} != {first['good'].value()}")

    cold_s, out, jobs = _pass(run, src)
    verify(out, "pass0", jobs)
    # The JIT keeps speeding passes up for a few more; let it settle.
    i = 1
    t_end = time.perf_counter() + WARMUP_S
    while time.perf_counter() < t_end:
        _, out, jobs = _pass(run, src)
        verify(out, f"pass{i}", jobs)
        i += 1
    warm: list[float] = []
    traced: list[dict] = []
    t_end = time.perf_counter() + run.seconds
    while (
        time.perf_counter() < t_end
        or len(warm) < MIN_WARM
        or (run.trace and len(traced) < MIN_WARM)
    ):
        jobs = None
        if run.trace and i % 2 == 0:
            times, out = _traced_pass(run, src)
            traced.append(times)
        else:
            dt, out, jobs = _pass(run, src)
            warm.append(dt)
        verify(out, f"pass{i}", jobs)
        i += 1

    p50 = H.median(warm)
    run.samples.update({"setup.gen_s": gens, "pass_s": warm})
    run.metrics.update(
        {
            "pass_s": p50,
            "etl_cold_pass_s": cold_s,
            "etl_rows_per_s": exp_good / p50,
            "enrich.rows_out": first["good"].count,
            "enrich.dead_rows": first["dead"].count,
            "enrich.valid_frac": first["good"].count / N_ROWS,
            "enrich.jobs": first_jobs,
            "kafka.bytes_out": first["bytes"],
        }
    )
    if not run.trace:
        return

    def layer(name: str, prev: str | None) -> float:
        return H.median(
            [t[name] - (t[prev] if prev else 0.0) for t in traced]
        )

    run.metrics.update(
        {
            # a traced pass (prefix actions under spans) against an untraced one
            "trace.overhead_frac": H.median([t["etl.pass"] for t in traced]) / p50 - 1.0,
            "etl.plan_s": H.median([t["etl.plan"] for t in traced]),
            "sources.scan_s": layer("sources.scan", None),
            "enrich.split_s": layer("enrich.split", "sources.scan"),
            "enrich.enrich_s": layer("enrich.enrich", "enrich.split"),
            "kafka.serialize_s": layer("kafka.serialize", "enrich.enrich"),
        }
    )
    # Single-slot baseline: one input file is one split, so every stage
    # runs as a single task.
    one = sorted(glob.glob(os.path.join(src, "part-*")))[0]
    with open(one, "rb") as f:
        rows_1 = sum(1 for _ in f)
    with run.tracer.span("etl.one_slot"):
        t0 = time.perf_counter()
        _, _, dead, _, ser = _plan(spark, one)
        _sink(ser, dead)
        dt1 = time.perf_counter() - t0
    run.metrics["etl.rows_per_s_1slot"] = rows_1 / dt1
    run.metrics["etl.scaling_eff"] = (N_ROWS / p50) / (cpus * rows_1 / dt1)
    stream.segment(run)
