"""The streaming path, open loop — the `stream` layer's segment of the
traced etl_batch run.

`run_pipeline` runs on a text file source with the engine's metrics
listener attached, as `cli etl` does, at its default 500 ms trigger. A
generator thread drops one file every DROP_S seconds at RATE rows/s (1%
poison pills), whether or not the pipeline keeps up. Each event's due time
is stamped into its `Comments`, which enrichment passes through unchanged;
the sink reads it back and records emit − due for every event. Events due
in the first WARMUP_S seconds are not counted. A first file of PRIME rows
is processed before the clock starts: that is the cold micro-batch.

Latency here is about 1.3 micro-batch durations (the pipeline is saturated
by its fixed per-batch cost), and its run-to-run spread is too wide for a
bounded end-to-end metric; see README.md.
"""

from __future__ import annotations

import collections
import json
import os
import threading
import time

from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

import harness as H
import inputs
from storm_data_etl_spark.functions.enrich import enrich_raw
from storm_data_etl_spark.sources.kafka import serialize_events
from storm_data_etl_spark.streaming.metrics import PipelineMetricsListener
from storm_data_etl_spark.streaming.pipeline import (
    run_pipeline,
    split_poison,
    text_stream_to_envelope,
)

RATE = 2000
DROP_S = 0.25
WARMUP_S = 2.0
#: rows in the file processed before the clock starts (the cold batch)
PRIME = 500

_CREATED = r'"comments":"t=([0-9.]+) Report ([0-9]+) '
_NO_COMMENTS = r',"comments":"[^"]*"'
_PHASES = (
    "triggerExecution",
    "addBatch",
    "queryPlanning",
    "getBatch",
    "latestOffset",
    "walCommit",
    "commitOffsets",
)


def stamp(line: str, created: float) -> str:
    """Put an event's due time in front of its `Comments` (poison lines
    have none and pass unchanged)."""
    return line.replace('"Comments":"', f'"Comments":"t={created:.6f} ', 1)


def stripped_hash(value_col):
    """xxhash64 of the serialized value with the `comments` field removed,
    so stamped and unstamped events hash alike."""
    v = value_col.cast("string")
    return F.xxhash64("key", F.regexp_replace(v, _NO_COMMENTS, ""))


class _Progress(StreamingQueryListener):
    """The benchmark's own listener: durationMs and input rows per batch."""

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.batches: dict[int, tuple[int, dict[str, int]]] = {}
        self.events: list[str] = []

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        with self.lock:
            self.batches[p.batchId] = (p.numInputRows, H.parse_duration_ms(p))
            self.events.append(p.json)

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass


class _Generator(threading.Thread):
    """Open-loop file dropper: file k holds rows [PRIME + k·n, PRIME +
    (k+1)·n) and is due at t0 + (k+1)·DROP_S; row i is due at
    t0 + (i − PRIME)/RATE."""

    def __init__(self, lines, src: str, t0: float, stop_at: float) -> None:
        super().__init__(daemon=True)
        self.lines, self.src, self.t0, self.stop_at = lines, src, t0, stop_at
        self.per_file = int(RATE * DROP_S)
        self.rows = PRIME
        self.late_max = 0.0

    def run(self) -> None:
        k = 0
        while True:
            due = self.t0 + (k + 1) * DROP_S
            if due > self.stop_at:
                return
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            lo = PRIME + k * self.per_file
            hi = lo + self.per_file
            body = "\n".join(
                stamp(self.lines[i], self.t0 + (i - PRIME) / RATE) for i in range(lo, hi)
            )
            drop(self.src, f"part-{k + 1:06d}.txt", body)
            self.late_max = max(self.late_max, time.time() - due)
            self.rows = hi
            k += 1


def drop(src: str, name: str, body: str) -> None:
    """Write a file where the file source cannot see it, then rename it in
    (the source ignores names starting with '.')."""
    tmp = os.path.join(src, f".{name}.tmp")
    with open(tmp, "w") as f:
        f.write(body + "\n")
    os.rename(tmp, os.path.join(src, name))


def segment(run) -> None:
    """Run the open-loop stream for WARMUP_S + run.seconds, check its
    outputs and record the stream.* metrics on ``run``."""
    spark = run.spark
    n_max = PRIME + int(RATE * (WARMUP_S + run.seconds + 1))
    lines, _ = inputs.payload_lines(run.seed, n_max)
    src, ckpt = run.path("stream-src"), run.path("stream-ckpt")
    os.makedirs(src)
    progress, pipeline_metrics = _Progress(), PipelineMetricsListener()
    spark.streams.addListener(progress)
    spark.streams.addListener(pipeline_metrics)

    lock = threading.Lock()
    seen = collections.Counter()
    lat: list[tuple[float, float, int]] = []  # (created, latency, epoch)
    emits: list[tuple[float, int]] = []  # (emit time, rows)
    epoch_rows = collections.Counter()
    digest, dead_digest = H.Digest(), H.Digest()
    sink_s: list[float] = []
    dead_sink_s: list[float] = []
    tr = run.tracer

    def sink(df, epoch: int) -> None:
        t0 = time.perf_counter()
        with tr.span("stream.sink", epoch=epoch):
            v = F.col("value").cast("string")
            rows = (
                serialize_events(df)
                .select(
                    F.regexp_extract(v, _CREATED, 1).cast("double"),
                    F.regexp_extract(v, _CREATED, 2).cast("long"),
                    stripped_hash(F.col("value")),
                )
                .collect()
            )
        emit = time.time()
        with lock:
            for created, idx, h in rows:
                seen[idx] += 1
                digest.add(h)
                lat.append((created, emit - created, epoch))
            emits.append((emit, len(rows)))
            epoch_rows[epoch] += len(rows)
            sink_s.append(time.perf_counter() - t0)

    def dead_sink(df, epoch: int) -> None:
        t0 = time.perf_counter()
        with tr.span("stream.dead_sink", epoch=epoch):
            rows = df.select(F.xxhash64("value")).collect()
        with lock:
            for (h,) in rows:
                dead_digest.add(h)
            epoch_rows[epoch] += len(rows)
            dead_sink_s.append(time.perf_counter() - t0)

    tracker = spark.sparkContext.statusTracker()
    H.drain_listener_bus(spark.sparkContext)
    jobs_before = len(tracker.getJobIdsForGroup(None))
    envelope = text_stream_to_envelope(
        spark.readStream.format("text").load(src), timestamp=inputs.ENVELOPE_TS
    )
    query = run_pipeline(
        spark,
        envelope,
        checkpoint_dir=ckpt,
        sink=sink,
        dead_letter_sink=dead_sink,
        processed_at=H.PROCESSED_AT,
        metrics=pipeline_metrics,
    )
    try:
        prime_at = time.time()
        drop(src, "part-000000.txt", "\n".join(stamp(x, prime_at) for x in lines[:PRIME]))
        query.processAllAvailable()
        t0 = time.time() + DROP_S
        stop_at = t0 + WARMUP_S + run.seconds
        gen = _Generator(lines, src, t0, stop_at)
        gen.start()
        gen.join(WARMUP_S + run.seconds + 30)
        query.processAllAvailable()
    finally:
        query.stop()
    # Progress events arrive on the listener bus after the batch ends.
    deadline = time.time() + 10
    while time.time() < deadline:
        with progress.lock:
            if len(progress.batches) >= len(emits):
                break
        time.sleep(0.1)
    spark.streams.removeListener(progress)
    spark.streams.removeListener(pipeline_metrics)
    H.drain_listener_bus(spark.sparkContext)
    stream_jobs = (
        len(tracker.getJobIdsForGroup(None)) - jobs_before
        + len(tracker.getJobIdsForGroup(str(query.runId)))
    )

    # ------------------------------------------------------------ checks
    total = gen.rows
    _, exp_dead = inputs.expected_split(run.seed, 0, total)
    good_idx = {i for i in range(total) if not inputs.is_poison(run.seed, i)}
    run.ops += 1
    dup = sum(1 for c in seen.values() if c > 1)
    run.check("stream.good_once", set(seen) == good_idx and dup == 0,
              f"emitted {len(seen)} distinct ({dup} duplicated), expected {len(good_idx)}")
    run.check("stream.dead_rows", dead_digest.count == exp_dead,
              f"{dead_digest.count} != {exp_dead}")
    snap = pipeline_metrics.snapshot()
    run.check("stream.listener_produced", snap.produced_total == digest.count,
              f"{snap.produced_total} != {digest.count}")
    run.check("stream.listener_errors", snap.transform_errors_total == dead_digest.count,
              f"{snap.transform_errors_total} != {dead_digest.count}")
    # The same rows, unstamped, through the batch path.
    ref = run.path("stream-reference")
    os.makedirs(ref)
    drop(ref, "part-0.txt", "\n".join(lines[:total]))
    with run.jobs.group():
        good_parsed, _ = split_poison(inputs.read_envelopes(spark, ref))
        ser = serialize_events(enrich_raw(good_parsed, processed_at=H.PROCESSED_AT))
        c, lo, hi = ser.agg(*H.spark_digest_aggs(stripped_hash(F.col("value")))).collect()[0]
    ref_digest = H.Digest()
    ref_digest.add_sums(c, lo or 0, hi or 0)
    run.check("stream.digest_matches_batch", ref_digest.value() == digest.value(),
              f"{digest.value()} != batch {ref_digest.value()}")

    # ----------------------------------------------------------- metrics
    counted = [(lt, ep) for created, lt, ep in lat if created >= t0 + WARMUP_S]
    lats = [lt for lt, _ in counted]
    tail = H.tail_percentile(lats)
    with progress.lock:
        data = {b: d for b, (n, d) in progress.batches.items() if n > 0}
        run.trace_extra["progress"] = [json.loads(e) for e in progress.events]
    cold_batch = min(data)
    steady = [b for b in data if b != cold_batch]
    trig = {b: d.get("triggerExecution", 0) / 1000.0 for b, d in data.items()}
    window = [(t, n) for t, n in emits if t0 + WARMUP_S <= t <= stop_at]
    rate = (
        sum(n for _, n in window[1:]) / (window[-1][0] - window[0][0])
        if len(window) > 2 else 0.0
    )
    trig_tail = H.tail_percentile([data[b]["triggerExecution"] for b in steady])
    run.metrics.update(
        {
            "stream_latency_p50_s": H.median(lats),
            "stream_latency_p99_s": tail[1] if tail else max(lats),
            "stream_rows_per_s": rate,
            "stream.cold_batch_s": trig[cold_batch],
            "stream.batches": len(steady),
            "stream.rows_per_batch_p50": H.median([epoch_rows[b] for b in steady]),
            "stream.triggerExecution_ms_p99": trig_tail[1] if trig_tail else max(
                data[b]["triggerExecution"] for b in steady
            ),
            "stream.sink_s_p50": H.median(sink_s),
            "stream.dead_sink_s_p50": H.median(dead_sink_s),
            "stream.jobs_per_batch": stream_jobs / max(1, len(data)),
            "stream.wait_s_p50": H.median([lt - trig.get(ep, 0.0) for lt, ep in counted]),
            "stream.gen_late_max_s": gen.late_max,
        }
    )
    for name in _PHASES:
        run.metrics[f"stream.{name}_ms_p50"] = H.median(
            [data[b].get(name, 0) for b in steady]
        )
