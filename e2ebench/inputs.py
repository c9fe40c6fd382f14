"""Seeded inputs: storm-report envelopes from the engine's own `stormgen`
source, and the small TPC-H-like tables the analytic mix reads, fitted to
the shape measured on the engine's sf 0.01 testdata.

Every input is a pure function of the seed. The rules that decide which
rows are poison pills or carry an unparseable `Location` are plain integer
arithmetic, so the expected counts are computed here in plain Python and
never by the code under test.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: What the upstream collector sends when a message is corrupt.
POISON = "not-json{{{"

#: Percent of rows whose `Location` is a bare place name (see is_bad_location).
BARE_LOCATION_PCT = 50

#: Epoch the text envelope stamps on every row (streaming.pipeline's default).
ENVELOPE_TS = "2024-04-26 00:00:00"


def is_poison(seed: int, idx: int) -> bool:
    """About 1% of rows are malformed JSON."""
    return (idx * 7919 + seed * 104729) % 97 == 0


def is_bad_location(seed: int, idx: int) -> bool:
    """Half the rows carry a bare place name instead of `N DIR Name`: the
    share among the raw NWS records FIXTURES.md quotes from the reference's
    fixture ("Mcalester" and "Ravenna" bare, two others `N DIR Name`)."""
    return (idx * 6007 + seed * 131) % 100 < BARE_LOCATION_PCT


def expected_split(seed: int, start: int, end: int) -> tuple[int, int]:
    """(good rows, dead-letter rows) among indices [start, end)."""
    dead = sum(1 for i in range(start, end) if is_poison(seed, i))
    return end - start - dead, dead


def stormgen_rows(seed: int, n: int) -> list[tuple]:
    """Rows [0, n) of the engine's `stormgen` source for ``seed``, read
    through its DataSource reader API in this process (no Spark job)."""
    from storm_data_etl_spark.schema import RAW_SCHEMA
    from storm_data_etl_spark.sources.stormgen import StormGenDataSource

    source = StormGenDataSource(
        {"numRows": str(n), "numPartitions": "1", "seed": str(seed)}
    )
    reader = source.reader(RAW_SCHEMA)
    return [row for part in reader.partitions() for row in reader.read(part)]


def payload_lines(seed: int, n: int) -> tuple[list[str], list[tuple]]:
    """(JSON-lines envelope payloads, raw rows) for stormgen rows [0, n):
    rows picked by ``is_poison`` become malformed JSON, rows picked by
    ``is_bad_location`` keep only the place of their `D DIR Place`
    `Location` — the bare form NWS reports use for an event in the town."""
    from storm_data_etl_spark.schema import RAW_SCHEMA

    names = [f.name for f in RAW_SCHEMA.fields]
    rows = stormgen_rows(seed, n)
    lines = []
    for i, row in enumerate(rows):
        if is_poison(seed, i):
            lines.append(POISON)
            continue
        rec = dict(zip(names, row))
        if is_bad_location(seed, i):
            rec["Location"] = rec["Location"].split(" ", 2)[2]
        lines.append(json.dumps(rec, separators=(",", ":")))
    return lines, rows


def write_lines(lines: list[str], path: str, files: int) -> None:
    """Write ``lines`` in order as ``files`` JSON-lines text files."""
    os.makedirs(path, exist_ok=True)
    step = -(-len(lines) // files)
    for k in range(files):
        with open(os.path.join(path, f"part-{k:05d}.txt"), "w") as f:
            f.write("".join(x + "\n" for x in lines[k * step : (k + 1) * step]))


def read_envelopes(spark, path: str):
    """The text files as Kafka-envelope rows (the `cli etl --source-json`
    shape, via the pipeline's own adapter)."""
    from storm_data_etl_spark.streaming.pipeline import text_stream_to_envelope

    return text_stream_to_envelope(spark.read.text(path), timestamp=ENVELOPE_TS)


# ------------------------------------------------------------------ tables
# Every distribution below is fitted to the engine's read-only sf 0.01
# testdata; TESTDATA_SHAPE holds what ``table_shape`` measured there, and
# tests/test_harness.py checks a synthesized set against it.
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_LANGS = (["en", "zh", "es", "de", "fr"], [0.436, 0.150, 0.146, 0.140, 0.128])
_VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
#: Share of documents that are another document's text plus " dup".
_NEAR_DUP = 0.05

#: ``table_shape`` of the testdata at sf 0.01.
TESTDATA_SHAPE = {
    "rows.customer": 1500,
    "rows.supplier": 100,
    "rows.orders": 15000,
    "rows.lineitem": 60000,
    "rows.events": 10000,
    "rows.documents": 500,
    "orders.custkeys": 1500,
    "orders.totalprice_p10": 51529.84,
    "orders.totalprice_p50": 251485.48,
    "orders.totalprice_p90": 449708.11,
    "lineitem.orderkeys": 14743,
    "lineitem.extendedprice_p10": 11352.7,
    "lineitem.extendedprice_p50": 53028.63,
    "lineitem.extendedprice_p90": 94709.34,
    "lineitem.discount_mean": 0.05,
    "lineitem.tax_mean": 0.04,
    "lineitem.ship_day_p50": 1239.0,
    "events.users": 150,
    "events.value_p10": 5.2,
    "events.value_p50": 34.59,
    "events.value_p90": 113.29,
    "documents.words_min": 10,
    "documents.words_p50": 56.0,
    "documents.words_max": 99,
    "documents.vocab": 31,
    "documents.chars_p50": 306.0,
    "documents.near_dup_frac": 0.048,
    "documents.exact_dup_frac": 0.0,
    "documents.en_frac": 0.436,
    "documents.sources": 20,
}


def _us(days: np.ndarray, base: str) -> np.ndarray:
    return np.datetime64(base, "us") + (days * 86_400_000_000).astype("timedelta64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def synth_tables(seed: int, out_dir: str, scale: float = 0.01) -> dict[str, int]:
    """Write region … documents as single-file parquet under ``out_dir``
    with the schemas and value distributions of the engine's testdata
    (sf ``scale``). Returns {table: rows}."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = int(150_000 * scale)
    n_supp = max(10, int(10_000 * scale))
    n_orders = int(1_500_000 * scale)
    n_events = int(1_000_000 * scale)
    n_users = max(10, int(15_000 * scale))
    n_docs = max(100, int(50_000 * scale))

    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -1000.0, 10_000.0, n_cust),
            "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
        }
    )
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -1000.0, 10_000.0, n_supp),
        }
    )
    odays = rng.integers(0, 2405, n_orders)  # 1995-01-01 .. 2001-08-01
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_orders),
            "o_orderdate": pa.array(_us(odays, "1995-01-01"), pa.timestamp("us")),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_orders
            ),
        }
    )
    # Four lines per order on average, each on an order drawn at random
    # (so lines per order are Poisson-like, 1-13 in the testdata); prices,
    # quantities and ship dates are drawn independently of the order.
    n_li = 4 * n_orders
    ship = odays[rng.integers(0, n_orders, n_li)] + rng.integers(1, 96, n_li)
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_orders, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, int(200_000 * scale), n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(float),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
            "l_discount": np.round(rng.uniform(0.0, 0.10, n_li), 2),
            "l_tax": np.round(rng.uniform(0.0, 0.08, n_li), 2),
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": pa.array(_us(ship, "1995-01-01"), pa.timestamp("us")),
        }
    )
    ev_us = np.sort(rng.integers(0, 30 * 86_400_000_000, n_events))
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_events), pa.int64()),
            "ts": pa.array(
                np.datetime64("2024-01-01", "us") + ev_us.astype("timedelta64[us]"),
                pa.timestamp("us"),
            ),
            "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
            "event_type": rng.choice(_EVENT_TYPES, n_events),
            "value": np.maximum(np.round(rng.exponential(50.0, n_events), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )
    tables["documents"] = _documents(rng, n_docs)
    rows = {}
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """10-99 words drawn uniformly from the 30-word testdata vocabulary;
    then _NEAR_DUP of the documents, in index order, become another
    document's text plus " dup" (a copy of a copy gets " dup dup")."""
    texts = [" ".join(rng.choice(_VOCAB, int(rng.integers(10, 100)))) for _ in range(n)]
    for i in sorted(rng.choice(n, round(_NEAR_DUP * n), replace=False)):
        j = int(rng.integers(0, n - 1))
        texts[i] = texts[j + (j >= i)] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": rng.choice(_LANGS[0], n, p=_LANGS[1]),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def table_shape(tables_dir: str) -> dict[str, float]:
    """The figures TESTDATA_SHAPE records, measured on the parquet tables
    in ``tables_dir``."""

    def col(table: str, name: str) -> np.ndarray:
        path = os.path.join(tables_dir, f"{table}.parquet")
        return pq.read_table(path, columns=[name]).column(name).to_numpy(
            zero_copy_only=False
        )

    def q(x: np.ndarray, p: int) -> float:
        return round(float(np.percentile(x, p)), 2)

    out: dict[str, float] = {}
    for table in ("customer", "supplier", "orders", "lineitem", "events", "documents"):
        out[f"rows.{table}"] = pq.read_metadata(
            os.path.join(tables_dir, f"{table}.parquet")
        ).num_rows
    out["orders.custkeys"] = len(np.unique(col("orders", "o_custkey")))
    price = col("orders", "o_totalprice")
    for p in (10, 50, 90):
        out[f"orders.totalprice_p{p}"] = q(price, p)
    out["lineitem.orderkeys"] = len(np.unique(col("lineitem", "l_orderkey")))
    price = col("lineitem", "l_extendedprice")
    for p in (10, 50, 90):
        out[f"lineitem.extendedprice_p{p}"] = q(price, p)
    out["lineitem.discount_mean"] = round(float(col("lineitem", "l_discount").mean()), 3)
    out["lineitem.tax_mean"] = round(float(col("lineitem", "l_tax").mean()), 3)
    ship = col("lineitem", "l_shipdate").astype("datetime64[D]")
    out["lineitem.ship_day_p50"] = q((ship - np.datetime64("1995-01-01")).astype(int), 50)
    out["events.users"] = len(np.unique(col("events", "user_id")))
    value = col("events", "value")
    for p in (10, 50, 90):
        out[f"events.value_p{p}"] = q(value, p)
    texts = list(col("documents", "text"))
    words = [len(t.split()) for t in texts]
    distinct = set(texts)
    out["documents.words_min"] = min(words)
    out["documents.words_p50"] = q(np.array(words), 50)
    out["documents.words_max"] = max(words)
    out["documents.vocab"] = len({w for t in texts for w in t.split()})
    out["documents.chars_p50"] = q(col("documents", "n_chars"), 50)
    out["documents.near_dup_frac"] = sum(
        t.endswith(" dup") and t[:-4] in distinct for t in texts
    ) / len(texts)
    out["documents.exact_dup_frac"] = (len(texts) - len(distinct)) / len(texts)
    out["documents.en_frac"] = float((col("documents", "lang") == "en").mean())
    out["documents.sources"] = len(np.unique(col("documents", "source")))
    return out


if __name__ == "__main__":
    import sys

    # python3 e2ebench/inputs.py <dir of parquet tables>
    print(json.dumps(table_shape(sys.argv[1]), indent=1))
