"""Tier-1 unit tests for the enrichment expression library.

Table-driven boundary tests mirroring the reference's
internal/domain/transform_test.go (values transcribed in FIXTURES.md §5 —
behavioral parity, not copied code).
"""

from __future__ import annotations

import datetime as dt
import json
import os
import subprocess
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql import functions as F

from storm_data_etl_spark import session
from storm_data_etl_spark.functions import enrich as E
from storm_data_etl_spark.sources.kafka import serialize_events
from storm_data_etl_spark.streaming.pipeline import split_poison, text_stream_to_envelope

BASE = dt.datetime(2024, 4, 26, 0, 0, 0)


def _eval(spark, col, rows, schema):
    df = spark.createDataFrame(rows, schema)
    return [r[0] for r in df.select(col).collect()]


# ---------------------------------------------------------------- severity
SEVERITY_CASES = [
    ("hail", 0.5, "minor"),
    ("hail", 0.75, "moderate"),
    ("hail", 1.0, "moderate"),
    ("hail", 1.5, "severe"),
    ("hail", 2.0, "severe"),
    ("hail", 2.5, "extreme"),
    ("hail", 3.0, "extreme"),
    ("wind", 45.0, "minor"),
    ("wind", 50.0, "moderate"),
    ("wind", 60.0, "moderate"),
    ("wind", 74.0, "severe"),
    ("wind", 85.0, "severe"),
    ("wind", 96.0, "extreme"),
    ("wind", 100.0, "extreme"),
    ("tornado", 1.0, "minor"),
    ("tornado", 1.5, "severe"),  # fractional between 1 and 2 → severe
    ("tornado", 2.0, "moderate"),
    ("tornado", 2.5, "severe"),
    ("tornado", 3.0, "severe"),
    ("tornado", 4.0, "severe"),
    ("tornado", 5.0, "extreme"),
    ("hail", 0.0, None),
    ("earthquake", 5.5, None),
    ("", 100.0, None),
]


def test_derive_severity(spark):
    rows = [(t, m) for t, m, _ in SEVERITY_CASES]
    got = _eval(spark, E.derive_severity("t", "m"), rows, "t string, m double")
    assert got == [exp for _, _, exp in SEVERITY_CASES]


# ---------------------------------------------------------------- location
LOCATION_CASES = [
    ("5 N AUSTIN", ("AUSTIN", 5.0, "N")),
    ("5.2 NW AUSTIN", ("AUSTIN", 5.2, "NW")),
    ("10.5 NNE SAN ANTONIO", ("SAN ANTONIO", 10.5, "NNE")),
    ("2.25 E DALLAS", ("DALLAS", 2.25, "E")),
    ("8 ESE Chappel", ("Chappel", 8.0, "ESE")),
    ("5 AUSTIN", ("5 AUSTIN", None, None)),
    ("N AUSTIN", ("N AUSTIN", None, None)),
    ("AUSTIN", ("AUSTIN", None, None)),
    ("", ("", None, None)),
    ("   ", ("", None, None)),
    ("abc N AUSTIN", ("abc N AUSTIN", None, None)),
    ("3 EEE SOMEWHERE", ("SOMEWHERE", 3.0, "EEE")),  # regex admits nonsense compass
]


def test_parse_location(spark):
    rows = [(loc,) for loc, _ in LOCATION_CASES]
    df = spark.createDataFrame(rows, "loc string")
    got = df.select(
        E.parse_location_name("loc"),
        E.parse_location_distance("loc"),
        E.parse_location_direction("loc"),
    ).collect()
    assert [tuple(r) for r in got] == [exp for _, exp in LOCATION_CASES]


# ------------------------------------------------------------- source office
OFFICE_CASES = [
    ("Storm reported by spotter (ABC)", "ABC"),
    ("Something happened (ABCD)", "ABCD"),
    ("Something happened (ABCDE)", "ABCDE"),
    ("No office code here", ""),
    ("storm (abc)", ""),
    ("(ABC) storm reported", ""),
    ("Storm (ABC) test (DEF)", "DEF"),
    ("Storm (ABC )  ", ""),
    ("Storm (123)", ""),
    ("Storm (AB12)", ""),
    ("Trailing spaces ok (SJT)   ", "SJT"),
    ("", ""),
    ("Too short (AB)", ""),
    ("Too long (ABCDEF)", ""),
]


def test_extract_source_office(spark):
    rows = [(c,) for c, _ in OFFICE_CASES]
    got = _eval(spark, E.extract_source_office("c"), rows, "c string")
    assert got == [exp for _, exp in OFFICE_CASES]


# ---------------------------------------------------------------- HHMM / time
HHMM_CASES = [
    ("1510", dt.datetime(2024, 4, 26, 15, 10)),
    ("930", dt.datetime(2024, 4, 26, 9, 30)),
    ("0000", dt.datetime(2024, 4, 26, 0, 0)),
    ("2359", dt.datetime(2024, 4, 26, 23, 59)),
    ("", BASE),
    ("12", BASE),
    ("2510", BASE),  # hour 25
    ("1299", BASE),  # minute 99
    ("12a0", BASE),
    ("  1510  ", dt.datetime(2024, 4, 26, 15, 10)),
    ("15100", BASE),  # 5 digits → Go minutes=100 invalid
    # >4 digits stay in Go's domain when the tail parses ≤59: the minute
    # slice runs to the END of the string (transform.go:103), regression
    # for the lpad-truncation bug hypothesis found.
    ("00001", dt.datetime(2024, 4, 26, 0, 1)),
    ("230059", dt.datetime(2024, 4, 26, 23, 59)),
]


def test_parse_hhmm(spark):
    rows = [(BASE, h) for h, _ in HHMM_CASES]
    got = _eval(spark, E.parse_hhmm("ts", "h"), rows, "ts timestamp, h string")
    assert got == [exp for _, exp in HHMM_CASES]


EVENT_TIME_CASES = [
    ("2024-04-26T15:10:00Z", dt.datetime(2024, 4, 26, 15, 10)),
    ("2024-04-26T15:10:00+00:00", dt.datetime(2024, 4, 26, 15, 10)),
    # RFC3339 with non-UTC offset converts to the UTC instant
    ("2024-04-26T15:30:00-05:00", dt.datetime(2024, 4, 26, 20, 30)),
    ("1510", dt.datetime(2024, 4, 26, 15, 10)),
    ("", BASE),
    ("not-a-time", BASE),
    # Go RFC3339 rejects a bare date → HHMM fallback → base
    ("2024-04-26", BASE),
    # Go RFC3339 rejects space separator
    ("2024-04-26 15:10:00", BASE),
    # invalid month → cast fails → HHMM fallback → base
    ("2024-13-26T15:10:00Z", BASE),
]


def test_event_time(spark):
    rows = [(BASE, t) for t, _ in EVENT_TIME_CASES]
    got = _eval(spark, E.event_time("ts", "t"), rows, "ts timestamp, t string")
    assert got == [exp for _, exp in EVENT_TIME_CASES]


# ------------------------------------------------------------- magnitude
MAG_DISPATCH_CASES = [
    ("hail", "125", "", "", 125.0),
    ("hail", "1.25", "", "", 1.25),
    ("tornado", "", "EF2", "", 2.0),
    ("tornado", "", "F3", "", 3.0),
    ("tornado", "", "2", "", 2.0),
    ("tornado", "", "UNK", "", 0.0),
    ("tornado", "", "unk", "", 0.0),
    ("wind", "", "", "65", 65.0),
    ("wind", "", "", "UNK", 0.0),
    ("hail", "", "", "", 0.0),
    ("snow", "100", "100", "100", 0.0),
    ("", "100", "100", "100", 0.0),
    ("tornado", "", "FF3", "", 0.0),  # Go strips EF then F once: FF3→F3→parse fail
    ("hail", " 150 ", "", "", 150.0),
]


def test_magnitude_raw(spark):
    rows = [(t, s, f, sp) for t, s, f, sp, _ in MAG_DISPATCH_CASES]
    got = _eval(
        spark,
        E.magnitude_raw("t", "s", "f", "sp"),
        rows,
        "t string, s string, f string, sp string",
    )
    assert got == [exp for *_, exp in MAG_DISPATCH_CASES]


MAG_NORM_CASES = [
    ("hail", 175.0, "in", 1.75),
    ("hail", 250.0, "in", 2.5),
    ("hail", 1.5, "in", 1.5),
    ("hail", 10.0, "in", 0.1),  # boundary: >=10 divides
    ("hail", 9.99, "in", 9.99),
    ("hail", 5.0, "cm", 5.0),
    ("wind", 85.0, "mph", 85.0),
    ("hail", 0.0, "in", 0.0),
    ("snow", 100.0, "in", 100.0),
]


def test_normalize_magnitude(spark):
    rows = [(t, m, u) for t, m, u, _ in MAG_NORM_CASES]
    got = _eval(
        spark, E.normalize_magnitude("t", "m", "u"), rows, "t string, m double, u string"
    )
    assert got == [exp for *_, exp in MAG_NORM_CASES]


# ------------------------------------------------------- type/unit normalize
def test_normalize_event_type(spark):
    cases = [
        ("hail", "hail"),
        ("wind", "wind"),
        ("tornado", "tornado"),
        ("torn", ""),
        ("HAIL", ""),
        ("Hail", ""),
        ("  hail  ", ""),
        ("snow", ""),
        ("", ""),
    ]
    got = _eval(spark, E.normalize_event_type("t"), [(c,) for c, _ in cases], "t string")
    assert got == [exp for _, exp in cases]


def test_normalize_unit(spark):
    cases = [
        ("hail", "cm", "cm"),
        ("hail", "  IN  ", "in"),
        ("hail", "", "in"),
        ("wind", "", "mph"),
        ("tornado", "", "f_scale"),
        ("earthquake", "", ""),
        ("", "", ""),
    ]
    got = _eval(
        spark, E.normalize_unit("t", "u"), [(t, u) for t, u, _ in cases], "t string, u string"
    )
    assert got == [exp for *_, exp in cases]


# ------------------------------------------------------------------ %g / ID
def test_fmt_g(spark):
    # Full domain of fixture magnitudes plus edge values.
    cases = [
        (0.0, "0"),
        (125.0, "125"),
        (1.25, "1.25"),
        (2.5, "2.5"),
        (65.0, "65"),
        (0.5, "0.5"),
        (1.75, "1.75"),
        (3.0, "3"),
        (300.0, "300"),
        (-1.5, "-1.5"),
        (58.0, "58"),
        (9.99, "9.99"),
    ]
    got = _eval(spark, E.fmt_g("m"), [(m,) for m, _ in cases], "m double")
    assert got == [exp for _, exp in cases]


def test_event_id_matches_go_sha256(spark):
    """Recompute the Go hash in Python and compare (determinism + format)."""
    import hashlib

    def go_id(et, state, lat, lon, time_str, mag):
        mag_s = repr(mag) if mag != int(mag) else str(int(mag))
        inp = f"{et}|{state}|{lat:.4f}|{lon:.4f}|{time_str}|{mag_s}"
        h = hashlib.sha256(inp.encode()).hexdigest()[:16]
        return h if et == "" else f"{et}-{h}"

    cases = [
        ("hail", "TX", 31.02, -98.44, "1510", 125.0),
        ("tornado", "OK", 34.96, -95.77, "1223", 0.0),
        ("wind", "NE", 41.02, -98.91, "1245", 65.0),
        ("hail", "TX", 31.02, -98.44, "1510", 1.25),  # mag changes → id changes
        ("", "TX", 31.02, -98.44, "1510", 125.0),     # empty type → bare hash
    ]
    rows = [(et, st, la, lo, t, m) for et, st, la, lo, t, m in cases]
    got = _eval(
        spark,
        E.event_id("et", "st", "la", "lo", "t", "m"),
        rows,
        "et string, st string, la double, lo double, t string, m double",
    )
    exp = [go_id(*c) for c in cases]
    assert got == exp
    assert len(set(got)) == len(got)  # all distinct


# ------------------------------------------------------------------ bucket
def test_time_bucket(spark):
    cases = [
        (dt.datetime(2024, 4, 26, 15, 0, 0), dt.datetime(2024, 4, 26, 15, 0)),
        (dt.datetime(2024, 4, 26, 15, 45, 30, 500), dt.datetime(2024, 4, 26, 15, 0)),
        (None, None),  # zero time → NULL
    ]
    got = _eval(spark, E.time_bucket("t"), [(c,) for c, _ in cases], "t timestamp")
    assert got == [exp for _, exp in cases]


def test_parse_float_or_zero(spark):
    cases = [("31.02", 31.02), ("", 0.0), ("  -98.44 ", -98.44), ("abc", 0.0), (None, 0.0)]
    got = _eval(spark, E.parse_float_or_zero("s"), [(c,) for c, _ in cases], "s string")
    assert got == [exp for _, exp in cases]


def test_enrich_with_observation_metrics(spark):
    """df.observe() collects pipeline metrics in the SAME pass as the
    enrichment action — the batch twin of the streaming listener metrics
    (ST7): no second scan, no accumulator plumbing."""
    import json

    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from storm_data_etl_spark.functions.enrich import enrich_envelope

    recs = [
        {"Time": "1510", "Size": "125", "F_Scale": "", "Speed": "",
         "Location": "8 ESE Chappel", "County": "San Saba", "State": "TX",
         "Lat": "31.02", "Lon": "-98.44", "Comments": "Hail. (SJT)",
         "EventType": "hail"},
        {"Time": "1245", "Size": "", "F_Scale": "", "Speed": "65",
         "Location": "Tarrant spot", "County": "Tarrant", "State": "TX",
         "Lat": "32.75", "Lon": "-97.33", "Comments": "Gusts. (FWD)",
         "EventType": "wind"},
    ]
    rows = [(json.dumps(r).encode(), "2024-04-26 00:00:00") for r in recs]
    rows.append((b"broken{{{", "2024-04-26 00:00:00"))
    df = spark.createDataFrame(rows, "value binary, timestamp string").withColumn(
        "timestamp", F.col("timestamp").cast("timestamp")
    )
    obs = Observation("enrich_metrics")
    out = enrich_envelope(df).observe(
        obs,
        F.count(F.lit(1)).alias("produced"),
        F.count(F.when(F.col("measurement.severity").isNull(), 1)).alias(
            "null_severity"
        ),
    )
    assert out.count() == 2  # poison pill dropped before the observe point
    got = obs.get
    assert got["produced"] == 2
    assert got["null_severity"] == 0


# ------------------------------------------------ the ETL dataflow as built
PROCESSED_AT = "2024-04-27 06:00:00"
ETL_RECORDS = [
    {"Time": "1510", "Size": "125", "F_Scale": "", "Speed": "",
     "Location": "8 ESE Chappel", "County": "San Saba", "State": "TX",
     "Lat": "31.02", "Lon": "-98.44", "Comments": "Hail. (SJT)",
     "EventType": "hail"},
    {"Time": "1245", "Size": "", "F_Scale": "", "Speed": "65",
     "Location": "Tarrant spot", "County": "Tarrant", "State": "TX",
     "Lat": "32.75", "Lon": "-97.33", "Comments": "Gusts. (FWD)",
     "EventType": "wind"},
    {"Time": "930", "Size": "", "F_Scale": "EF2", "Speed": "",
     "Location": "2 N Mcalester", "County": "Pittsburg", "State": "OK",
     "Lat": "34.93", "Lon": "-95.77", "Comments": "Tornado on the ground.",
     "EventType": "tornado"},
    {"Time": "2024-04-26T18:30:00Z", "Size": "1.75", "F_Scale": "",
     "Speed": "", "Location": "Ravenna", "County": "Portage", "State": "OH",
     "Lat": "41.16", "Lon": "-81.24", "Comments": "", "EventType": "flood"},
]
ETL_LINES = [json.dumps(r) for r in ETL_RECORDS] + ["not-json{{{"]


@pytest.fixture(scope="module")
def etl_path(tmp_path_factory) -> str:
    path = tmp_path_factory.mktemp("etl") / "envelopes.txt"
    path.write_text("".join(line + "\n" for line in ETL_LINES))
    return str(path)


def _etl_plan(text):
    """(serialized good rows, dead-letter envelopes): the batch ETL plan
    over a DataFrame of JSON-lines text."""
    good, dead = split_poison(text_stream_to_envelope(text))
    return serialize_events(E.enrich_raw(good, processed_at=PROCESSED_AT)), dead


def _rows(df) -> list:
    return sorted(tuple(r) for r in df.select("key", "value").collect())


def test_etl_codegen_methods_fit_the_jit(spark, etl_path):
    """Every generated method of the ETL stages stays under HotSpot's
    8,000-byte HugeMethodLimit; over it, the JIT never compiles the hot
    loop and every row runs in the bytecode interpreter."""
    env = text_stream_to_envelope(spark.read.text(etl_path))
    enriched = E.enrich_raw(E.parse_raw_events(env), processed_at=PROCESSED_AT)
    debug_pkg = spark._jvm.org.apache.spark.sql.execution.debug
    debug = getattr(getattr(debug_pkg, "package$"), "MODULE$")
    for df in (enriched, serialize_events(enriched)):
        stages = debug.codegenStringSeq(df._jdf.queryExecution().executedPlan())
        sizes = [stages.apply(i)._3().maxMethodCodeSize() for i in range(stages.size())]
        assert sizes and max(sizes) < 8000, sizes


def test_column_cache_per_processed_at(spark, etl_path):
    good, _ = split_poison(text_stream_to_envelope(spark.read.text(etl_path)))
    stamps = {}
    for at in (PROCESSED_AT, "2025-01-02 03:04:05"):
        out = E.enrich_raw(good, processed_at=at)
        fmt = F.date_format("processed_at", "yyyy-MM-dd HH:mm:ss")
        stamps[at] = {r[0] for r in out.select(fmt).collect()}
    assert stamps == {at: {at} for at in stamps}


def test_column_cache_keeps_current_timestamp_per_query(spark, etl_path):
    """processed_at=None reuses one current_timestamp() Column; Spark still
    evaluates it once per query, so a later query reads a later clock."""
    good, _ = split_poison(text_stream_to_envelope(spark.read.text(etl_path)))

    def stamps():
        out = E.enrich_raw(good).select(F.col("processed_at").cast("double"))
        return {r[0] for r in out.collect()}

    first = stamps()
    time.sleep(0.05)
    second = stamps()
    assert len(first) == len(second) == 1
    assert min(second) > max(first)
    assert abs(max(second) - time.time()) < 600


def test_second_plan_build_reuses_columns(spark, etl_path, monkeypatch):
    """The fixed Column trees are built once per SparkContext: a second
    build of the ETL plan sends at most a tenth of the first build's Py4J
    commands. Release messages are not counted: Python's garbage collector
    sends them whenever it frees objects of earlier tests."""
    from py4j import protocol
    from py4j.java_gateway import GatewayClient

    release = protocol.MEMORY_COMMAND_NAME + protocol.MEMORY_DEL_SUBCOMMAND_NAME

    text = spark.read.text(etl_path)
    monkeypatch.setattr(session, "_CONTEXT_COLUMNS", (None, {}))
    sent = [0]
    send = GatewayClient.send_command

    def counting(self, command, *args, **kwargs):
        sent[0] += not command.startswith(release)
        return send(self, command, *args, **kwargs)

    monkeypatch.setattr(GatewayClient, "send_command", counting)
    counts = []
    for _ in range(2):
        sent[0] = 0
        _etl_plan(text)
        counts.append(sent[0])
    assert counts[1] * 10 <= counts[0], counts


def test_concurrent_plan_builds_agree(spark, etl_path, monkeypatch):
    """Two threads building the plan from a cold cache and running it at
    once (foreachBatch runs on the Py4J callback thread) get the rows a
    serial run gets."""
    expected = tuple(_rows(df) for df in _etl_plan(spark.read.text(etl_path)))
    assert len(expected[0]) == 4 and len(expected[1]) == 1
    monkeypatch.setattr(session, "_CONTEXT_COLUMNS", (None, {}))

    def run(_):
        return tuple(_rows(df) for df in _etl_plan(spark.read.text(etl_path)))

    with ThreadPoolExecutor(2) as pool:
        got = list(pool.map(run, range(2), timeout=600))
    assert got == [expected, expected]


def test_column_cache_builds_once_under_thread_race(monkeypatch):
    """Threads that miss the cache at once still run the builder once and
    share its tree."""
    monkeypatch.setattr(session, "_CONTEXT_COLUMNS", (None, {}))
    calls = []

    @session.per_context
    def build(name):
        calls.append(name)
        time.sleep(0.001)
        return object()

    workers = 4 * (os.cpu_count() or 4)
    start = threading.Barrier(workers, timeout=60)

    def race(_):
        start.wait()
        return build("tree")

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(workers) as pool:
            got = list(pool.map(race, range(workers), timeout=60))
    finally:
        sys.setswitchinterval(interval)
    assert len(calls) == 1 and all(g is got[0] for g in got)


_RESTART_SCRIPT = """
import sys
from storm_data_etl_spark import session
from storm_data_etl_spark.functions.enrich import enrich_raw
from storm_data_etl_spark.sources.kafka import serialize_events
from storm_data_etl_spark.streaming.pipeline import split_poison, text_stream_to_envelope

def rows(spark):
    good, _ = split_poison(text_stream_to_envelope(spark.read.text(sys.argv[1])))
    ser = serialize_events(enrich_raw(good, processed_at="2024-04-27 06:00:00"))
    return sorted((bytes(r.key), bytes(r.value)) for r in ser.collect())

spark = session.get_spark("column-cache-restart", master="local[1]")
before = rows(spark)
spark.stop()
spark = session.get_spark("column-cache-restart", master="local[1]")
after = rows(spark)
assert session._CONTEXT_COLUMNS[0] is spark.sparkContext
assert before == after and len(before) == 4, (before, after)
spark.stop()
print("restart-ok")
"""


def test_column_cache_survives_context_restart(etl_path):
    """Columns cached on a stopped SparkContext are not reused on the next
    one. Runs in its own process: stopping the suite's shared session would
    break the tests after this one."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYTHONPATH=root, SPARK_GRAFT_DRIVER_MEM="1g")
    proc = subprocess.run(
        [sys.executable, "-c", _RESTART_SCRIPT, etl_path],
        cwd=root, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0 and "restart-ok" in proc.stdout, proc.stderr[-3000:]
