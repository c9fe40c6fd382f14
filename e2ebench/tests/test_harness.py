"""Self-tests for the benchmark's own helpers (no Spark session needed).

    python3 -m pytest e2ebench/tests -q
"""

from __future__ import annotations

import json
import math
import os
import random
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path[:0] = [os.path.dirname(BENCH), BENCH]

import harness as H  # noqa: E402
import inputs  # noqa: E402

#: One progress event as the benchmark's listener received it from the
#: open-loop stream of a traced etl_batch run (Spark 4.1, file source,
#: foreachBatch sink).
RECORDED_PROGRESS = os.path.join(HERE, "progress_event.json")


# ------------------------------------------------------------- percentiles
def test_tail_percentile_needs_ten_samples_beyond():
    xs = list(range(1, 1001))  # 1000 samples: p99 rank 990 leaves 10 beyond
    assert H.tail_percentile(xs) == (99.0, 990.0)
    # 999 samples: p99 rank 990 leaves only 9 beyond -> fall to p95
    assert H.tail_percentile(xs[:999]) == (95.0, 950.0)


def test_tail_percentile_uses_p999_when_enough():
    xs = list(range(10_000))
    assert H.tail_percentile(xs) == (99.9, 9989.0)


def test_tail_percentile_small_and_empty():
    assert H.tail_percentile(list(range(20))) == (50.0, 9.0)
    assert H.tail_percentile(list(range(19))) is None
    assert H.tail_percentile([]) is None


def test_tail_percentile_order_free():
    xs = list(range(2000))
    ys = xs[:]
    random.Random(7).shuffle(ys)
    assert H.tail_percentile(xs) == H.tail_percentile(ys)


def test_median():
    assert H.median([3, 1, 2]) == 2.0
    assert H.median([4, 1, 3, 2]) == 2.5


# ------------------------------------------------------------ metric names
def test_metric_name_rule():
    for ok in ("setup_s", "query.hits_hub_authority.build_s", "stream.p-50", "9lives"):
        assert H.valid_metric_name(ok), ok
    for bad in ("", "_lead", ".lead", "has space", "a/b", "x" * 65, "é"):
        assert not H.valid_metric_name(bad), bad


def test_declared_metrics_are_valid_and_distinct():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        spec = json.load(f)
    declared = spec["end_to_end"] + spec["per_layer"]
    names = [m["name"] for m in declared]
    assert len(names) == len(set(names))
    for m in declared:
        assert H.valid_metric_name(m["name"]), m["name"]
        assert m["better"] in ("higher", "lower")
        assert 0 < len(m["unit"]) <= 16


# -------------------------------------------------------------- durationMs
def test_parse_duration_ms_from_recorded_event():
    with open(RECORDED_PROGRESS) as f:
        text = f.read()
    d = H.parse_duration_ms(text)
    assert set(d) >= {"triggerExecution", "addBatch", "queryPlanning", "walCommit"}
    assert all(isinstance(v, int) and v >= 0 for v in d.values())
    # addBatch runs inside triggerExecution
    assert d["addBatch"] <= d["triggerExecution"]
    assert H.parse_duration_ms(json.loads(text)) == d


def test_parse_duration_ms_missing_field():
    assert H.parse_duration_ms("{}") == {}


# ------------------------------------------------------------------ digest
def test_digest_is_order_insensitive():
    rng = random.Random(3)
    hs = [rng.randint(-(2**63), 2**63 - 1) for _ in range(500)]
    a, b = H.Digest(), H.Digest()
    for h in hs:
        a.add(h)
    for h in reversed(hs):
        b.add(h)
    assert a.value() == b.value()


def test_digest_sees_loss_duplication_and_change():
    hs = [11, -5, 2**62, -(2**63)]
    base = H.Digest()
    for h in hs:
        base.add(h)
    lost, dup, changed = H.Digest(), H.Digest(), H.Digest()
    for h in hs[:-1]:
        lost.add(h)
    for h in hs + hs[:1]:
        dup.add(h)
    for h in hs[:-1] + [hs[-1] + 1]:
        changed.add(h)
    assert len({base.value(), lost.value(), dup.value(), changed.value()}) == 4


def test_digest_spark_partials_equal_row_sums():
    """add_sums folds (count, Σ h & 0xFFFFFFFF, Σ h >> 32) — the Spark-side
    aggregates — to the same digest as adding the rows one by one, in any
    split into partials."""
    rng = random.Random(5)
    hs = [rng.randint(-(2**63), 2**63 - 1) for _ in range(300)]
    rows = H.Digest()
    for h in hs:
        rows.add(h)
    parts = H.Digest()
    for chunk in (hs[:17], hs[17:200], hs[200:]):
        parts.add_sums(len(chunk), sum(h & 0xFFFFFFFF for h in chunk), sum(h >> 32 for h in chunk))
    assert parts.value() == rows.value()


# ----------------------------------------------------------------- tracing
def test_self_time_subtracts_children_union():
    spans = [
        {"id": 0, "parent": None, "name": "pass", "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "name": "a", "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "name": "b", "start": 3.0, "end": 6.0},  # overlaps a
        {"id": 3, "parent": 2, "name": "c", "start": 3.5, "end": 4.5},
    ]
    st = H.self_times(spans)
    assert st["pass"] == 10.0 - 5.0
    assert st["a"] == 3.0
    assert st["b"] == 3.0 - 1.0
    assert st["c"] == 1.0


def test_tracer_records_parent_and_run_id():
    tr = H.Tracer(True, "run-x")
    with tr.span("outer"):
        with tr.span("inner", k=1):
            pass
    outer, inner = tr.spans
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    assert inner["run_id"] == "run-x" and inner["attrs"] == {"k": 1}
    assert outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]
    off = H.Tracer(False, "run-y")
    with off.span("outer"):
        pass
    assert off.spans == []


# ------------------------------------------------------------------ inputs
def test_expected_split_follows_rules():
    good, dead = inputs.expected_split(4, 0, 10_000)
    assert good + dead == 10_000
    assert dead == sum(inputs.is_poison(4, i) for i in range(10_000))
    assert 0.005 < dead / 10_000 < 0.02
    bad = sum(inputs.is_bad_location(4, i) for i in range(10_000))
    assert 0.45 < bad / 10_000 < 0.55


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_synth_tables_match_testdata_shape(seed, tmp_path):
    """The synthesized tables have the row counts of the sf 0.01 testdata,
    and every other recorded figure within 10%."""
    inputs.synth_tables(seed, str(tmp_path), 0.01)
    got = inputs.table_shape(str(tmp_path))
    for key, want in inputs.TESTDATA_SHAPE.items():
        if key.startswith("rows."):
            assert got[key] == want, key
        else:
            assert math.isclose(got[key], want, rel_tol=0.1, abs_tol=0.01), (key, got[key], want)
