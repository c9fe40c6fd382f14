"""Shared machinery for the outside-in benchmark: statistics, digests,
tracing spans, Spark job counting, memory readings and session start.

Nothing here imports pyspark at module level, so the helpers can be tested
without a JVM (see tests/test_harness.py).
"""

from __future__ import annotations

import json
import math
import os
import re
import threading
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: Metric names BENCHMARK.json accepts.
_METRIC_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")

#: Percentiles tried, highest first, by ``tail_percentile``.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

#: Frozen processed-at clock: the enriched output (and so its digest) must
#: not depend on when a pass ran.
PROCESSED_AT = "2024-04-27 06:00:00"

#: Input generation repeats this often in set-up; ``setup_s`` takes the
#: median, so one slow repetition does not move it.
SETUP_REPS = 3

#: JVM heap of the local-mode session (the engine's 8g default is sized for
#: 32 executor threads; this benchmark runs nproc of them).
JVM_HEAP = "3g"

_MASK64 = (1 << 64) - 1


def valid_metric_name(name: str) -> bool:
    """True when ``name`` is 1-64 chars of [A-Za-z0-9_.-] starting with a
    letter or digit."""
    return bool(_METRIC_NAME.fullmatch(name))


def median(xs) -> float:
    xs = sorted(xs)
    if not xs:
        raise ValueError("median of no samples")
    n = len(xs)
    mid = n // 2
    return float(xs[mid]) if n % 2 else (xs[mid - 1] + xs[mid]) / 2.0


def _rank(p: float, n: int) -> int:
    # round first: 99.9 / 100 * 10000 is 9990.000000000002 in binary
    return max(1, math.ceil(round(p / 100.0 * n, 6)))


def tail_percentile(xs, min_beyond: int = 10, ladder=TAIL_LADDER):
    """The highest percentile of ``ladder`` that has at least ``min_beyond``
    samples strictly beyond its nearest rank, as (p, value); None when even
    the lowest rung has fewer. A tail read from fewer samples than that is
    one or two outliers, not a percentile."""
    xs = sorted(xs)
    n = len(xs)
    for p in ladder:
        rank = _rank(p, n)
        if n - rank >= min_beyond:
            return p, float(xs[rank - 1])
    return None


def parse_duration_ms(progress) -> dict[str, int]:
    """``durationMs`` of one streaming progress event as {phase: ms}.

    Accepts a StreamingQueryProgress, its JSON text, or the parsed dict."""
    if isinstance(progress, str):
        progress = json.loads(progress)
    if isinstance(progress, dict):
        d = progress.get("durationMs") or {}
    else:
        d = progress.durationMs or {}
    return {str(k): int(v) for k, v in d.items()}


class Digest:
    """Order-insensitive digest of a multiset of signed 64-bit row hashes:
    (row count, sum of hashes mod 2^64). Two passes that emit the same rows
    in any order and any partitioning agree; a lost, duplicated or altered
    row changes it."""

    def __init__(self) -> None:
        self.count = 0
        self.total = 0

    def add(self, h: int) -> None:
        self.count += 1
        self.total = (self.total + h) & _MASK64

    def add_sums(self, count: int, lo_sum: int, hi_sum: int) -> None:
        """Fold a Spark-side partial: ``lo_sum`` = Σ(h & 0xFFFFFFFF),
        ``hi_sum`` = Σ(h >> 32) (arithmetic shift), so Σh = hi·2^32 + lo
        exactly — the two long sums cannot overflow at benchmark sizes."""
        self.count += int(count)
        self.total = (self.total + (int(hi_sum) << 32) + int(lo_sum)) & _MASK64

    def value(self) -> str:
        return f"{self.count}:{self.total:016x}"


def spark_digest_aggs(h):
    """The three aggregate Columns ``Digest.add_sums`` folds, for a hash
    Column ``h`` (long)."""
    from pyspark.sql import functions as F

    return [
        F.count(F.lit(1)),
        F.sum(h.bitwiseAND(F.lit(0xFFFFFFFF))),
        F.sum(F.shiftright(h, 32)),
    ]


# ---------------------------------------------------------------- tracing
class Tracer:
    """In-memory spans (name, start, end, parent, run id, attributes),
    written as JSON when the run ends. Disabled, ``span`` costs one
    attribute test; untraced runs measure with it disabled, and traced
    runs switch it off for the passes they compare against."""

    def __init__(self, enabled: bool, run_id: str) -> None:
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield attrs
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        with self._lock:
            sid = len(self.spans)
            rec = {
                "id": sid,
                "parent": stack[-1] if stack else None,
                "name": name,
                "run_id": self.run_id,
                "start": time.perf_counter() - self._t0,
                "end": None,
                "attrs": attrs,
            }
            self.spans.append(rec)
        stack.append(sid)
        try:
            yield attrs
        finally:
            stack.pop()
            rec["end"] = time.perf_counter() - self._t0

    def self_times(self) -> dict[str, float]:
        """Σ self time per span name: duration minus the union of the
        intervals its direct children cover."""
        return self_times(self.spans)

    def write(self, path: str, extra: dict | None = None) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    "run_id": self.run_id,
                    "spans": self.spans,
                    "self_s": self.self_times(),
                    **(extra or {}),
                },
                f,
                indent=1,
                default=str,
            )


def self_times(spans: list[dict]) -> dict[str, float]:
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None and s["end"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        if s["end"] is None:
            continue
        covered = 0.0
        cur_start = cur_end = None
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
            a, b = max(c["start"], s["start"]), min(c["end"], s["end"])
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
    return out


# ------------------------------------------------------------ job counting
class JobCounter:
    """Spark job counts from ``statusTracker()``: each counted call runs
    under its own job group, and the group's job ids are counted after."""

    def __init__(self, sc) -> None:
        self._sc = sc
        self._n = 0

    @contextmanager
    def group(self):
        self._n += 1
        gid = f"e2ebench-{os.getpid()}-{self._n}"
        self._sc.setJobGroup(gid, gid)
        box = {"jobs": 0}
        try:
            yield box
        finally:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
            box["jobs"] = self.jobs_in(gid)

    def jobs_in(self, gid: str) -> int:
        drain_listener_bus(self._sc)
        return len(self._sc.statusTracker().getJobIdsForGroup(gid))


def drain_listener_bus(sc, timeout_ms: int = 30_000) -> None:
    """Wait until the listener bus has delivered every event posted so far.
    ``statusTracker()`` reads a store the bus fills asynchronously, so a
    job that just ended may not be registered there yet."""
    sc._jsc.sc().listenerBus().waitUntilEmpty(timeout_ms)


# ------------------------------------------------------------------ memory
def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak resident set (VmHWM) of this Python process plus the JVM."""
    kb = _vm_hwm_kb(os.getpid())
    if jvm_pid:
        kb += _vm_hwm_kb(jvm_pid)
    return kb / 1024.0


# ----------------------------------------------------------------- session
def start_session(workdir: str, app: str):
    """Start the engine's SparkSession on local[nproc], with every file the
    JVM and its Python workers write kept under ``workdir``. Returns
    (spark, seconds taken, the JVM's Popen)."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(workdir, "tmp")
    local = os.path.join(workdir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    env = os.environ
    env["TMPDIR"] = tmp
    env["SPARK_LOCAL_DIRS"] = local
    env["SPARK_LAUNCHER_OPTS"] = jvm_opts  # spark-submit's launcher JVM
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env["SPARK_GRAFT_WAREHOUSE"] = os.path.join(workdir, "warehouse")
    import tempfile

    tempfile.tempdir = tmp

    from storm_data_etl_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        app,
        master=f"local[{cpus}]",
        extra_conf={
            # session.py's sizing rule for shuffle parallelism: 2-3x cores
            "spark.sql.shuffle.partitions": str(2 * cpus),
            "spark.driver.memory": JVM_HEAP,
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": local,
            "spark.driver.extraJavaOptions": jvm_opts,
        },
    )
    start_s = time.perf_counter() - t0
    return spark, start_s, spark.sparkContext._gateway.proc


def stop_session(spark, jvm) -> None:
    """Stop the session, then end the JVM (it exits when its stdin closes)
    and wait for it."""
    spark.stop()
    jvm.stdin.close()
    jvm.wait(timeout=120)


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(dirpath, name))
    return total
