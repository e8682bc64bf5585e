"""Shared machinery of the benchmark: host sizing, the session confs, op
records, result hashing, process-tree RSS sampling, spans and the per-op
Spark counters read from the status stores.

Nothing here edits the program under test. Spans are taken around calls
into the program's public functions; the Spark counters come from the
JVM status stores (``AppStatusStore`` for jobs/stages, the SQL
``statusStore`` for executions and their SQL metrics), read per op under
a per-op job group.
"""

from __future__ import annotations

import hashlib
import math
import os
import platform
import re
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


# ------------------------------------------------------------------ host
@dataclass(frozen=True)
class Host:
    cores: int
    ram_mb: int
    heap_gb: int

    @classmethod
    def detect(cls) -> "Host":
        cores = len(os.sched_getaffinity(0))
        with open("/proc/meminfo") as fh:
            kb = int(next(ln for ln in fh if ln.startswith("MemTotal")).split()[1])
        ram_mb = kb // 1024
        # 40% of RAM for the driver heap (local mode: the executors live
        # in it), at least 1g and at most 8g.
        heap_gb = max(1, min(8, round(ram_mb / 8 / 1024)))
        return cls(cores=cores, ram_mb=ram_mb, heap_gb=heap_gb)


def versions(spark) -> dict:
    jvm = spark.sparkContext._jvm
    return {
        "spark": spark.version,
        "java": jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
    }


def session_confs(host: Host, work: str) -> dict[str, str]:
    """Confs that size the session from the host and keep every file the
    run writes inside ``work``."""
    tmp = os.path.join(work, "tmp")
    return {
        "spark.sql.shuffle.partitions": str(host.cores),
        "spark.driver.memory": f"{host.heap_gb}g",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Xms{host.heap_gb}g -Djava.io.tmpdir={tmp}",
    }


# ----------------------------------------------------------- statistics
def median(xs) -> float:
    return float(statistics.median(xs))


def p90_if_supported(xs) -> float | None:
    """p90 only when at least ten samples lie beyond it."""
    return float(np.percentile(xs, 90)) if len(xs) >= 100 else None


# --------------------------------------------------------------- hashing
def result_hash(pdf: pd.DataFrame) -> str:
    """Order-insensitive hash of a result: columns by name, floats to 9
    significant digits (partial-sum order moves only the last bits),
    rows sorted."""
    cols = sorted(pdf.columns)
    rows = []
    for row in pdf[cols].itertuples(index=False, name=None):
        rows.append(tuple(_canon(v) for v in row))
    rows.sort()
    h = hashlib.sha256(repr(cols).encode())
    for r in rows:
        h.update(repr(r).encode())
    return h.hexdigest()


def _canon(v):
    if v is None or v is pd.NaT:
        return ""
    if isinstance(v, (float, np.floating)):
        return "" if math.isnan(v) else f"{float(v):.9g}"
    if isinstance(v, (np.ndarray, list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, pd.Timestamp):
        return v.tz_localize(None).isoformat() if v.tzinfo else v.isoformat()
    return str(v)


def frames_match(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """The repo's oracle comparison (tolerant, order-insensitive);
    returns the mismatch message or None."""
    from tests.oracle_utils import assert_frames_match

    try:
        assert_frames_match(got, want)
    except AssertionError as e:
        return str(e)[:300]
    return None


# ------------------------------------------------------------------- RSS
class RssSampler:
    """Peak summed RSS of this process and all its descendants (the JVM
    and its Python workers), sampled from /proc every ``period`` s."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak_kb = 0
        self.peak_parts: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        return self.peak_kb / 1024.0

    def reset(self) -> None:
        self.peak_kb = 0
        self.peak_parts = {}

    def _tree(self) -> dict[int, tuple[str, int]]:
        """pid -> (command name, RSS kB) for this process and its descendants."""
        parent: dict[int, int] = {}
        rss: dict[int, tuple[str, int]] = {}
        page_kb = os.sysconf("SC_PAGE_SIZE") // 1024
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            fields = stat[stat.rfind(")") + 2:].split()
            parent[int(name)] = int(fields[1])
            rss[int(name)] = (stat[stat.find("(") + 1:stat.rfind(")")],
                              int(fields[21]) * page_kb)
        children: dict[int, list[int]] = {}
        for pid, pp in parent.items():
            children.setdefault(pp, []).append(pid)
        me = os.getpid()
        tree, frontier = {me}, [me]
        while frontier:
            for c in children.get(frontier.pop(), []):
                if c not in tree:
                    tree.add(c)
                    frontier.append(c)
        return {p: rss[p] for p in tree if p in rss}

    def descendants(self) -> list[int]:
        return [p for p in self._tree() if p != os.getpid()]

    def _loop(self) -> None:
        while not self._stop.is_set():
            tree = self._tree()
            total = sum(kb for _, kb in tree.values())
            if total > self.peak_kb:
                self.peak_kb = total
                parts: dict[str, int] = {}
                for comm, kb in tree.values():
                    parts[comm] = parts.get(comm, 0) + kb // 1024
                self.peak_parts = parts
            self._stop.wait(self.period)


# ------------------------------------------------------------ op records
@dataclass
class Op:
    """One timed operation of a workload."""

    kind: str  # template name, catalog entry, or txn op ("append", "merge", ...)
    run: object  # callable(tracer) -> result
    is_write: bool = False
    expect: object = None  # callable(result) -> True | False | None (deferred)


@dataclass
class OpRecord:
    kind: str
    latency_s: float
    is_write: bool
    ok: bool | None = None
    error: str | None = None
    layers: dict = field(default_factory=dict)


# ---------------------------------------------------------------- tracer
class Tracer:
    """Spans (name, start, end, parent id, attributes) kept in memory and
    written out once at the end. A disabled tracer records nothing; its
    spans still yield a dict, so call sites need no branch."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = iter(range(1, 1 << 62))
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        record = {"name": name, **attrs}
        if not self.enabled:
            yield record
            return
        sid = next(self._ids)
        record.update(id=sid, parent=self._stack[-1] if self._stack else None)
        self._stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield record
        finally:
            record.update(start=t0, end=time.perf_counter())
            self._stack.pop()
            self.spans.append(record)


_TIME_UNITS = {"ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6}
_FIRST_TIME = re.compile(r"(\d+(?:\.\d+)?) (ms|s|m|h)\b")


def _opt_ms(opt) -> int | None:
    return int(opt.get().getTime()) if opt.isDefined() else None


class SparkCounters:
    """Per-op counters from Spark's status stores, scoped by job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self._n = 0
        self._group = None
        self._exec_before = 0

    def begin(self) -> None:
        self._n += 1
        self._group = f"perfbench-{self._n}"
        self._exec_before = int(self.sql_store.executionsCount())
        self.sc.setJobGroup(self._group, self._group)

    def job_ids(self) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(self._group))

    def end(self, t0_ms: float, t1_ms: float) -> dict:
        """Counters of every job and SQL execution the op started
        between wall-clock ``t0_ms`` and ``t1_ms`` (epoch ms)."""
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        c = dict.fromkeys(
            ("jobs", "stages", "tasks", "run_ms", "cpu_ms", "gc_ms",
             "python_ms", "shuffle_write_bytes", "spill_bytes",
             "sql_exec_ms"), 0.0)
        intervals = []
        for jid in self.job_ids():
            job = self.store.job(jid)
            c["jobs"] += 1
            start, end = _opt_ms(job.submissionTime()), _opt_ms(job.completionTime())
            if start is not None and end is not None:
                intervals.append((max(start, t0_ms), min(end, t1_ms)))
            sids = job.stageIds()
            for i in range(sids.size()):
                st = self.store.lastStageAttempt(sids.apply(i))
                if st.status().toString() != "COMPLETE":
                    continue
                c["stages"] += 1
                c["tasks"] += st.numCompleteTasks()
                c["run_ms"] += st.executorRunTime()
                c["cpu_ms"] += st.executorCpuTime() / 1e6
                c["gc_ms"] += st.jvmGcTime()
                c["shuffle_write_bytes"] += st.shuffleWriteBytes()
                c["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        c["covered_ms"] = _union_ms(intervals)
        n_exec = int(self.sql_store.executionsCount())
        seen_acc: set[int] = set()
        if n_exec > self._exec_before:
            execs = self.sql_store.executionsList(self._exec_before, n_exec - self._exec_before)
            for i in range(execs.size()):
                e = execs.apply(i)
                done = _opt_ms(e.completionTime())
                if done is not None:
                    c["sql_exec_ms"] += done - e.submissionTime()
                c["python_ms"] += self._python_ms(e, seen_acc)
        return c

    def _python_ms(self, execution, seen: set[int]) -> float:
        """Sum of the 'time to run Python workers' SQL metrics, each
        accumulator once (AQE re-lists a plan's metrics per execution)."""
        total = 0.0
        values = None
        metrics = execution.metrics()
        for k in range(metrics.size()):
            m = metrics.apply(k)
            if m.name() != "time to run Python workers":
                continue
            acc = m.accumulatorId()
            if acc in seen:
                continue
            seen.add(acc)
            if values is None:
                values = self.sql_store.executionMetrics(execution.executionId())
            v = values.get(acc)
            if v.isDefined():
                hit = _FIRST_TIME.search(v.get())
                if hit:
                    total += float(hit.group(1)) * _TIME_UNITS[hit.group(2)]
        return total


def _union_ms(intervals) -> float:
    """Length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def catalyst_phases(df) -> dict[str, float]:
    """Analysis/optimization/planning ms of a DataFrame's QueryExecution."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for k in ("analysis", "optimization", "planning"):
        o = phases.get(k)
        out[k] = float(o.get().durationMs()) if o.isDefined() else 0.0
    return out


def frame_bytes(pdf: pd.DataFrame) -> int:
    return int(pdf.memory_usage(index=False, deep=True).sum())


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total
