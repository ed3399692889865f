"""Shared benchmark machinery: Spark session lifecycle, tracing, statistics.

Everything here is benchmark-side.  The program under test is only ever
called through its public entry points; spans are recorded by wrapping
those calls from this directory, never by editing the program.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import threading
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any, Callable

import numpy as np

# layers whose self time is reported for the measured window (session
# start-up lies outside it and has its own metric, session.start_s)
LAYERS = ("cdc", "lake", "streaming", "operators", "pipeline")


_T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress line on stderr, stamped with seconds since import."""
    print(f"[perfbench {time.perf_counter() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


# --------------------------------------------------------------------- #
# statistics
# --------------------------------------------------------------------- #
def median(xs: list[float]) -> float:
    if not xs:
        raise ValueError("median of no samples")
    return float(statistics.median(xs))


def hi_percentile(xs: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest of p75/p90/p95/p99 with at least
    ten samples above it, or p75 when even that has fewer (runs of a few
    seconds hold a few dozen samples; the percentile and n are reported)."""
    n = len(xs)
    if n == 0:
        raise ValueError("percentile of no samples")
    pct = max((p for p in (75, 90, 95, 99) if n * (100 - p) / 100 >= 10), default=75)
    return float(np.percentile(xs, pct)), float(pct), n


def slope(ys: list[float]) -> float:
    """Least-squares slope of ys against their index (units per step)."""
    n = len(ys)
    if n < 2:
        return 0.0
    mx = (n - 1) / 2
    my = sum(ys) / n
    den = sum((i - mx) ** 2 for i in range(n))
    return sum((i - mx) * (y - my) for i, y in enumerate(ys)) / den


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


# --------------------------------------------------------------------- #
# tracing
# --------------------------------------------------------------------- #
@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    attrs: dict[str, Any] = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory spans (name, start, end, parent) written out at exit.

    Disabled tracers record nothing, so the untraced run pays only a
    function call per wrapped entry point.  Spans opened on a thread with
    no open span of its own (the replayer's prepare thread, the streaming
    micro-batch thread) take the innermost span opened by ``root`` as
    their parent.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._roots: list[int] = []

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, root: bool = False, detached: bool = False, **attrs):
        """Record one span.  ``root`` spans adopt spans from threads the
        program starts while they are open; ``detached`` spans (from the
        benchmark's own threads) never take a root as parent."""
        if not self.enabled:
            yield None
            return
        st = self._stack()
        if st:
            parent = st[-1]
        else:
            parent = None if detached or not self._roots else self._roots[-1]
        with self._lock:
            sp = Span(len(self.spans), name, time.perf_counter(), parent=parent, attrs=dict(attrs))
            self.spans.append(sp)
        st.append(sp.sid)
        if root:
            self._roots.append(sp.sid)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            st.pop()
            if root:
                self._roots.remove(sp.sid)

    def wrap(self, obj: Any, attr: str, name: str, on_result: Callable | None = None) -> None:
        """Replace ``obj.attr`` with a span-recording wrapper (traced runs
        only).  ``on_result(span, result)`` may attach counts."""
        if not self.enabled:
            return
        inner = getattr(obj, attr)

        def wrapped(*a, **kw):
            with self.span(name) as sp:
                out = inner(*a, **kw)
                if on_result is not None:
                    on_result(sp, out)
                return out

        setattr(obj, attr, wrapped)

    def named(self, name: str, since: float = 0.0, until: float = float("inf")) -> list[Span]:
        """Finished spans called ``name`` that started in [since, until)
        (``time.perf_counter()`` values, e.g. the measured window)."""
        return [s for s in self.spans
                if s.name == name and s.end and since <= s.start < until]

    def busy(self, name: str, since: float = 0.0, until: float = float("inf")) -> float:
        return sum(s.dur for s in self.named(name, since, until))

    def self_time_by_layer(
        self, since: float = 0.0, until: float = float("inf")
    ) -> dict[str, float]:
        """Span duration minus the part of it covered by child spans,
        summed per layer (the span name's first dotted component), over
        spans that started in [since, until)."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None and s.end:
                kids.setdefault(s.parent, []).append(s)
        out = {layer: 0.0 for layer in LAYERS}
        for s in self.spans:
            layer = s.name.split(".", 1)[0]
            if layer not in out or not s.end or not since <= s.start < until:
                continue
            covered = union_length(
                [(max(c.start, s.start), min(c.end, s.end)) for c in kids.get(s.sid, [])
                 if c.end > s.start and c.start < s.end]
            )
            out[layer] += max(0.0, s.dur - covered)
        return out

    def dump(self, path: str, extra: dict[str, Any]) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(
                {
                    "spans": [
                        {"id": s.sid, "name": s.name, "start": s.start, "end": s.end,
                         "parent": s.parent, "attrs": s.attrs}
                        for s in self.spans
                    ],
                    **extra,
                },
                fh,
                default=str,
            )


# --------------------------------------------------------------------- #
# Spark session lifecycle
# --------------------------------------------------------------------- #
# Driver heap cap, sized to the host rather than the engine's 8g default
# (tuned for a 128 GiB box): the benchmark's host is a 4-vCPU VM whose
# memory is shared with other tenants.  The workloads peak at about 2 GB
# resident under this cap; under 8g the parallel collector grows the young
# generation at will, and peak RSS varied by up to a quarter between runs.
DRIVER_MEMORY = "3g"

def start_spark(work_dir: str, traced: bool):
    """The engine's own session factory with its own defaults, at
    local[nproc].  Only deployment settings are passed: the driver heap
    (DRIVER_MEMORY), every scratch path inside ``work_dir``, the driver on
    loopback, and the status UI (loopback, any free port) on traced runs
    for the job/stage/byte counters."""
    from cdm_cbioportal_etl_spark import session

    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # the launcher JVM spark-submit starts first would write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    java_opts = (
        session._DEFAULTS["spark.driver.extraJavaOptions"]
        + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    )
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.extraJavaOptions": java_opts,
        "spark.local.dir": os.path.join(work_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        "spark.driver.host": "127.0.0.1",
        "spark.driver.bindAddress": "127.0.0.1",
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        conf.update({
            "spark.ui.enabled": "true",
            "spark.ui.port": "0",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        })
    spark = session.get_spark("perfbench", master=f"local[{cpus}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def process_age_s() -> float:
    """Seconds since this process was created (from /proc)."""
    with open("/proc/self/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


# --------------------------------------------------------------------- #
# Spark counters (traced runs only: they need the status UI)
# --------------------------------------------------------------------- #
READER_GROUP = "perfbench-reader"  # Spark job group of the reader thread


class SparkCounters:
    """Job, stage and byte counts of the workload's own Spark work,
    snapshotted around a region: ``metrics.stage_byte_totals`` over all
    completed stages, minus the stages of jobs in the reader's job group."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled

    def _get(self, endpoint: str):
        sc = self.spark.sparkContext
        with urllib.request.urlopen(
            f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/{endpoint}",
            timeout=30,
        ) as fh:
            return json.load(fh)

    def snapshot(self) -> dict[str, int] | None:
        if not self.enabled:
            return None
        from cdm_cbioportal_etl_spark.metrics import stage_byte_totals

        totals = stage_byte_totals(self.spark)
        if totals is None:
            raise RuntimeError("stage byte totals unavailable")
        # the listing covers every job, streaming micro-batches included
        jobs = self._get("jobs")
        reader_jobs = [j for j in jobs if j.get("jobGroup") == READER_GROUP]
        reader_stages = {sid for j in reader_jobs for sid in j.get("stageIds", [])}
        stages = self._get("stages?status=complete")
        for st in stages:
            if st["stageId"] in reader_stages:
                for k in totals:
                    totals[k] -= int(st.get(k, 0))
        totals["jobs"] = len(jobs) - len(reader_jobs)
        totals["stages"] = sum(1 for st in stages if st["stageId"] not in reader_stages)
        return totals

    @staticmethod
    def delta(a: dict | None, b: dict | None) -> dict[str, int]:
        if a is None or b is None:
            return {}
        return {k: b[k] - a[k] for k in b}


# --------------------------------------------------------------------- #
# run context and result
# --------------------------------------------------------------------- #
@dataclass
class Ctx:
    spark: Any
    tracer: Tracer
    counters: SparkCounters
    seed: int
    seconds: float
    work_dir: str
    traced: bool


@dataclass
class Outcome:
    """What a workload hands back: operation counts, the raw samples the
    end-to-end metrics are computed from, and per-layer values."""

    attempted: int = 0
    failed: int = 0
    # per workload unit: (due, visible, records) on one clock
    visible: list[tuple[float, float, int]] = field(default_factory=list)
    window: tuple[float, float] = (0.0, 0.0)
    # time.perf_counter() when the clock started and stopped: spans outside
    # are set-up or checks
    clock_start: float = 0.0
    clock_end: float = float("inf")
    events_per_s: list[float] = field(default_factory=list)
    lookup_ms: list[float] = field(default_factory=list)
    export_pass_s: list[float] = field(default_factory=list)
    layer: dict[str, float] = field(default_factory=dict)
    notes: dict[str, Any] = field(default_factory=dict)
    series: dict[str, Any] = field(default_factory=dict)

    def check(self, ok: bool) -> None:
        """Count one operation, failed unless ``ok``."""
        self.tally(int(ok), int(not ok))

    def tally(self, ok: int, bad: int) -> None:
        self.attempted += ok + bad
        self.failed += bad


MIN_ROUNDS = 2


def another_round(clock_start: float, seconds: float, round_s: list[float]) -> bool:
    """Closed-loop workloads measure whole rounds (``round_s`` holds the
    finished ones): at least MIN_ROUNDS, so a run's medians rest on more
    than one round of samples, then another only if one as long as the
    last would still end inside ``seconds``.  A faster program measures
    more rounds; a run rarely ends far past its length."""
    if len(round_s) < MIN_ROUNDS:
        return True
    return time.perf_counter() - clock_start + round_s[-1] <= seconds


def time_averaged_backlog(
    units: list[tuple[float, float, int]], window: tuple[float, float]
) -> float:
    """Mean number of records that were due but not yet visible over
    ``window`` (Little's law form: sum of records x overlap / length)."""
    lo, hi = window
    if hi <= lo:
        raise ValueError("empty window")
    acc = 0.0
    for due, vis, n in units:
        a, b = max(due, lo), min(vis, hi)
        if b > a:
            acc += n * (b - a)
    return acc / (hi - lo)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except FileNotFoundError:
                pass
    return total


def table_layout(table) -> dict[str, float]:
    """Layout counters of a LakeTable's current snapshot."""
    snap = table.snapshot
    files = [f for fs in snap["buckets"].values() for f in fs]
    live = sum(os.path.getsize(os.path.join(table.root, f["path"])) for f in files)
    on_disk = dir_bytes(os.path.join(table.root, "data"))
    return {
        "lake.files": float(len(files)),
        "lake.files_per_bucket_max": float(
            max((len(fs) for fs in snap["buckets"].values()), default=0)
        ),
        "lake.data_bytes_per_live_byte": on_disk / live if live else 0.0,
        "lake.meta_bytes": float(dir_bytes(os.path.join(table.root, "_meta"))),
    }
