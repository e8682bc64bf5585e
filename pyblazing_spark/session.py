"""SparkSession construction and the runtime confs the engine relies on.

Scale stance: these defaults are written for a real cluster (100 TB /
~1000 executors) and merely *tested* on local[N]:

- AQE on (runtime coalescing, skew-join splitting, dynamic broadcast) —
  replaces the reference's hand-rolled batch-size adaptation
  (``CONCATENATING_CACHE_NUM_BYTES_TIMEOUT``, reference
  ``pyblazing/pyblazing/apiv2/context.py:1239-1275``).
- 128 MiB file split target so a 100 TB scan yields ~800k well-sized tasks.
- Broadcast threshold 64 MiB: every TPC-H-style dimension (region, nation,
  supplier, part at most SFs) broadcasts instead of shuffling the fact table.
- UTC session time zone: parquet timestamps here are wall-clock (NTZ);
  pinning UTC makes instant<->naive conversions value-preserving and matches
  the DuckDB oracle.
- Generated-code cache of 4096 classes instead of Spark's 100. The
  engine's working set at sf0.1 is 612 classes (328 for the 12
  ``operators_batch`` entries, 202 more for the 24 bench queries, 82 more
  for the 13 interactive SQL templates; 4-core host). At 100 the LRU
  cycles with a 0% hit rate and every repeat of a query recompiles its
  whole-stage and expression code (Janino).
"""

from __future__ import annotations

import os
import threading
from contextlib import contextmanager

from pyspark.sql import SparkSession

#: Confs that must be set at session-build time. The host-sized ones
#: (shuffle width, driver heap) are added by :func:`build_confs`.
BUILD_CONFS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.codegen.cache.maxEntries": "4096",
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
}


def host_cores() -> int:
    """Cores a local session uses: ``$SPARK_GRAFT_CPUS`` if set, else the
    cores this process may run on (its CPU affinity mask)."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    return int(cpus) if cpus else len(os.sched_getaffinity(0))


def host_ram_mb() -> int:
    """Physical RAM of the host, from ``/proc/meminfo``."""
    with open("/proc/meminfo") as fh:
        kb = next(int(ln.split()[1]) for ln in fh if ln.startswith("MemTotal:"))
    return kb // 1024


def driver_heap() -> str:
    """Driver heap: a quarter of host RAM, at least 1 GiB. In local mode
    the executors run inside the driver JVM; the other three quarters
    stay with the Python workers, the page cache and other processes."""
    return f"{max(1024, host_ram_mb() // 4)}m"


#: Confs that are runtime-settable; applied idempotently before reads so the
#: engine behaves the same under an externally provided SparkSession (the
#: correctness driver builds its own).
RUNTIME_CONFS: dict[str, str] = {
    # events.parquet carries TIMESTAMP(NANOS) which vanilla Spark rejects
    # (PARQUET_TYPE_ILLEGAL); read as int64 nanos and convert in the loader.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def ensure_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs; safe to call repeatedly.

    The static confs in :data:`BUILD_CONFS` (the generated-code cache
    size) cannot be set here: a session this package did not build
    (``BlazingContext(spark)``, ``scripts/driver_check.py``'s plain
    session) keeps Spark's defaults for them."""
    for key, value in RUNTIME_CONFS.items():
        try:
            if spark.conf.get(key, None) != value:
                spark.conf.set(key, value)
        except Exception:  # pragma: no cover - conf not recognized
            pass
    _ship_package(spark)
    _warm_session(spark)
    return spark


def _warm_session(spark: SparkSession) -> None:
    """One tiny eager job per session so scheduler/JIT/codegen warmup is
    absorbed here instead of billed to whichever catalog entry the driver
    happens to run first (the old mitigation was a dedicated
    ``aaa_session_warmup`` entry pinned to slot 1 of the formal budget —
    retired so all 50 driver rows are substantive)."""
    sc = spark.sparkContext
    if getattr(sc, "_pbs_warmed", False):
        return
    sc._pbs_warmed = True
    spark.range(0, 1 << 14, 1, 4).selectExpr("sum(id) AS s").collect()


def _ship_package(spark: SparkSession) -> None:
    """Make ``pyblazing_spark`` importable on Python WORKERS regardless
    of the driver process's CWD/PYTHONPATH.

    cloudpickle serializes module-level functions BY REFERENCE, so every
    ``mapInPandas``/pandas-UDF kernel that calls a helper from this
    package needs the package importable inside the worker. When the
    harness happens to run from the repo root the workers find it via
    CWD — but from any other directory they raise ModuleNotFoundError.
    Shipping a zip via ``addPyFile`` (cached per session) removes the
    working-directory dependence; tested by running the full catalog
    from a read-only CWD."""
    sc = spark.sparkContext
    if getattr(sc, "_pbs_pkg_shipped", False):
        return
    import os
    import tempfile
    import zipfile

    import pyblazing_spark

    import hashlib

    pkg_dir = os.path.dirname(os.path.abspath(pyblazing_spark.__file__))
    # Collect the source list deterministically and hash the contents:
    # the zip lives at a CONTENT-ADDRESSED stable path, so repeated
    # sessions on one host reuse a single file instead of accumulating
    # one mkstemp zip per SparkContext. (The zip cannot be deleted right
    # after addPyFile: Spark's fileserver serves the ORIGINAL path and
    # executors fetch it lazily at first task launch.)
    entries = []
    h = hashlib.sha256()
    for root, _dirs, files in os.walk(pkg_dir):
        for fname in sorted(files):
            if fname.endswith(".py"):
                full = os.path.join(root, fname)
                rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                entries.append((full, rel))
                h.update(rel.encode())
                with open(full, "rb") as fh:
                    h.update(fh.read())
    entries.sort(key=lambda e: e[1])
    zpath = os.path.join(
        tempfile.gettempdir(), f"pyblazing_spark_ship_{h.hexdigest()[:16]}.zip"
    )
    if not os.path.exists(zpath):
        # Write-then-rename keeps a concurrent session from reading a
        # half-written zip at the shared path.
        fd, tmp = tempfile.mkstemp(
            prefix="pyblazing_spark_ship_tmp_", suffix=".zip",
            dir=tempfile.gettempdir(),
        )
        os.close(fd)
        with zipfile.ZipFile(tmp, "w") as z:
            for full, rel in entries:
                z.write(full, rel)
        os.replace(tmp, zpath)
    try:
        sc.addPyFile(zpath)
    except Exception:  # pragma: no cover — e.g. a stopped context
        return
    sc._pbs_pkg_shipped = True


#: GPU execution (the reference's entire C++/cuDF layer) arrives in Spark
#: as the RAPIDS accelerator plugin — configuration, not code (SURVEY.md
#: §7.4). Requires the rapids-4-spark jar + GPUs on the cluster; the
#: declarative DataFrame plans in this package are exactly what the
#: plugin accelerates (it rewrites supported physical operators to GPU
#: versions at planning time, falling back per-operator to CPU).
GPU_CONFS: dict[str, str] = {
    "spark.plugins": "com.nvidia.spark.SQLPlugin",
    "spark.rapids.sql.enabled": "true",
    # Arrow-batched Python UDFs exchange columnar batches with the GPU
    # plan without a row-format round trip.
    "spark.rapids.sql.python.gpu.enabled": "true",
}


def build_confs(
    extra_conf: dict[str, str] | None = None, gpu: bool = False
) -> dict[str, str]:
    """The session conf set: defaults + host sizing + optional GPU plugin
    + overrides. The host is read at call time, not at import."""
    confs = {
        **BUILD_CONFS,
        "spark.sql.shuffle.partitions": str(host_cores()),
        "spark.driver.memory": driver_heap(),
    }
    if gpu:
        confs.update(GPU_CONFS)
    confs.update(extra_conf or {})
    return confs


def get_spark(
    app_name: str = "pyblazing_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
    gpu: bool = False,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    The session is sized from the host: ``master`` defaults to
    ``local[host_cores()]``, the shuffle width to the same core count and
    the driver heap to :func:`driver_heap` (a quarter of RAM).
    ``$SPARK_GRAFT_CPUS`` overrides the core count; an explicit
    ``master`` or ``extra_conf`` entry wins over either, and
    ``--driver-memory`` in ``PYSPARK_SUBMIT_ARGS`` wins over the heap. On
    a cluster, submit through spark-submit/YARN/K8s with an explicit
    master. ``gpu=True`` adds the RAPIDS accelerator confs (needs the
    plugin jar on the cluster).

    The static confs in :data:`BUILD_CONFS` (the generated-code cache
    size) take effect only when this call creates the session; a session
    that already exists, or one built elsewhere and handed to
    ``BlazingContext(spark)``, keeps what it was built with.
    """
    builder = SparkSession.builder.appName(app_name)
    builder = builder.master(master or f"local[{host_cores()}]")
    for key, value in build_confs(extra_conf, gpu=gpu).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return ensure_runtime_confs(spark)


def codegen_compiles(spark: SparkSession) -> int:
    """Classes the driver JVM's code generator has compiled so far: the
    generated-code cache's misses (Spark's ``CodegenMetrics``; hits do
    not count). JVM-wide and cumulative — take deltas."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


#: Guards every scoped conf change: the registry below AND the conf calls,
#: so scopes opened or closed on different threads never interleave.
_CONF_LOCK = threading.Lock()
#: (session UUID, key) -> (value before the first open scope, None when
#: unset; the open scopes' (token, value) entries in opening order).
_OPEN_CONFS: dict[tuple[str, str], tuple[str | None, list]] = {}


@contextmanager
def scoped_conf(spark: SparkSession, confs: dict[str, str]):
    """Set runtime confs for a bounded scope — the one way the engine
    changes a session conf temporarily. Per (session, key): while scopes
    are open the key holds the value of the most recently opened scope
    still open; when the last one closes the key gets back its value from
    before the first (an unset key is unset again). Nested scopes on one
    thread therefore restore LIFO, and scopes overlapping on different
    threads (the async query pool) neither flip a sibling's value nor
    leak their own. Used by iterative operators and eager
    reference-dialect SQL."""
    token = object()
    opened: list[tuple[tuple[str, str], str]] = []
    with _CONF_LOCK:
        sid = spark._jsparkSession.sessionUUID()
        for key, value in confs.items():
            try:
                prev = spark.conf.get(key, None)
                spark.conf.set(key, value)
            except Exception:  # pragma: no cover — unknown conf
                continue
            _OPEN_CONFS.setdefault((sid, key), (prev, []))[1].append((token, value))
            opened.append(((sid, key), value))
    try:
        yield spark
    finally:
        with _CONF_LOCK:
            for slot, value in opened:
                prev, scopes = _OPEN_CONFS[slot]
                scopes.remove((token, value))
                if not scopes:
                    del _OPEN_CONFS[slot]
                current = scopes[-1][1] if scopes else prev
                try:
                    if current is None:
                        spark.conf.unset(slot[1])
                    else:
                        spark.conf.set(slot[1], current)
                except Exception:  # pragma: no cover
                    pass


def make_ckpt(
    spark: SparkSession,
    checkpoint_dir: str | None = None,
    ckpt_interval: int = 1,
):
    """Lineage-truncation function for the iterative-operator loops
    (connected components, star, k-core, BFS, SCC, PageRank, k-means):
    ``ckpt(df, eager=True)`` returns a plan-truncated frame.

    - ``checkpoint_dir=None`` (default): ``df.localCheckpoint`` —
      blocks live in EXECUTOR memory/disk. Fast (no remote FS write),
      but a lost executor loses its blocks, and because the checkpoint
      truncated lineage there is nothing to recompute FROM once the
      parent handle is unpersisted: a mid-loop executor death then
      fails the job (probed: scripts/cluster_probe.py --kill-deep).
      Right for interactive sessions and single-box runs, where the
      JVM dying takes the driver with it anyway.
    - ``checkpoint_dir=<path>``: RELIABLE ``df.checkpoint`` — the
      round's state is written to the fault-tolerant filesystem path
      (HDFS/object store on a cluster; any shared dir on one box), so
      recovery after executor loss never needs lineage at all. The
      production setting for 1000-executor churn: with executor MTBF
      around an hour, a multi-hour iterative job WILL lose one
      mid-loop. The frame is PERSISTED before the checkpoint: Spark
      writes reliable checkpoint files in a SECOND job after the
      materializing action, and without the cache that job re-executes
      the round's final stage — measured double-compute the cache
      turns into a cheap block read (the write-side half of the
      reliable-mode overhead). The pre-checkpoint cache is dropped on
      the NEXT ``ckpt`` call (callers materialize each round before
      checkpointing the next — every loop here does), or immediately
      for ``eager=True``.

    ``ckpt_interval=k`` amortizes the truncation cost: only every k-th
    ``ckpt`` call truncates (localCheckpoint / reliable checkpoint per
    the mode); intermediate calls ``persist()`` — lineage KEPT, so in
    reliable mode a lost executor mid-interval recomputes the lost
    blocks from the last FS snapshot automatically (bounded replay of
    at most k rounds, Spark-native — no application retry). The
    intermediate rounds' logical plans grow until the next truncation,
    so keep k small (3-4); loops that call ``ckpt`` on several frames
    per round should leave k=1 (the counter is per CALL, not per
    round). In local mode the same schedule applies (persist between
    localCheckpoints) — mid-interval block loss there replays from the
    last LOCAL checkpoint, whose own blocks are the non-recoverable
    ones (--kill-deep).

    The checkpoint dir is process-global in Spark (SparkContext
    level); setting it here is idempotent and later loops with
    ``None`` still use localCheckpoint, so scoping is per-call."""
    state = {"n": 0, "pending": None}

    def _drop_pending() -> None:
        if state["pending"] is not None:
            state["pending"].unpersist()
            state["pending"] = None

    def ckpt(df, eager=True):
        state["n"] += 1
        _drop_pending()
        if ckpt_interval > 1 and state["n"] % ckpt_interval != 0:
            return df.persist()
        if checkpoint_dir is None:
            return df.localCheckpoint(eager=eager)
        cached = df.persist()
        out = cached.checkpoint(eager=eager)
        if eager:
            cached.unpersist()
        else:
            # the caller's next action materializes round + FS write;
            # drop the cache at the next ckpt call (see docstring).
            state["pending"] = cached
        return out

    if checkpoint_dir is not None:
        spark.sparkContext.setCheckpointDir(checkpoint_dir)
    return ckpt


def loop_shuffle_confs(spark: SparkSession) -> dict[str, str]:
    """Shuffle confs for iterative / fixture-bounded computations: size
    each round's exchanges to CLUSTER PARALLELISM (defaultParallelism =
    total cores) rather than the session's ``spark.sql.shuffle.partitions``,
    which is tuned for fact-table scans. A label-propagation round over a
    pair graph shuffles two long columns — at any scale the right task
    count is ~cores, and a 200-wide shuffle of a 25-edge fixture graph
    spends 10x the round time on task scheduling. AQE is disabled inside
    the scope: the round plans are fixed two-stage shapes whose sizing is
    already derived from the materialized input, and AQE's per-stage
    re-planning adds a scheduling barrier per exchange that dominates
    sub-second rounds."""
    return {
        "spark.sql.shuffle.partitions": str(spark.sparkContext.defaultParallelism),
        "spark.sql.adaptive.enabled": "false",
    }


def local_frame(spark: SparkSession, rows, schema) -> "DataFrame":
    """A DataFrame over driver-held ``rows`` (tuples in ``schema``
    order; ``schema`` a StructType or DDL string) — the one way the
    engine ships driver-built data to the JVM.

    The rows become a ``pyarrow.Table`` typed by the Spark schema and
    reach the JVM as one Arrow stream, which Spark plans as a local
    relation (it carries size statistics). The pickled-row path
    (``createDataFrame(list)``) instead plans a ``PythonRDD`` whose
    every scan starts one Python-worker task per core: one aggregate
    over a 1000-row frame took 0.49 s that way against 0.26 s from
    Arrow (4-core host). Arrow keeps NULLs and int64 above 2^53 exact,
    and an empty ``rows`` keeps its schema; a naive ``datetime`` in a
    TIMESTAMP column is read as UTC."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import DataType

    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    rows = list(rows)
    cols = list(zip(*rows)) if rows else [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


def spread_to_cores(df: DataFrame) -> "DataFrame":
    """Repartition a NARROW frame to full parallelism before a
    compute-bound stage, CONDITIONAL on the observed partition count
    (the r8 multimodal pattern + the r15 VERDICT #8 gate, shared):
    file-split parallelism follows input BYTES, so a small/narrow scan
    collapses to 1-3 partitions and a CPU-heavy downstream stage (md5
    probes, per-row codecs) idles most cores. When the layout already
    covers the cores — every real at-scale scan — the frame passes
    through untouched and no exchange is added; the RoundRobin appears
    only when partitions < cores. ``getNumPartitions`` plans the scan
    (file listing) but runs no job. Only worth calling when the
    downstream stage dominates the ~0.2 s shuffle — cheap kernels
    measured SLOWER with it (OPTIMIZATION_r14.md, "Measured and
    REJECTED")."""
    cores = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= cores:
        return df
    return df.repartition(cores)
