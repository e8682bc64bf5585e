"""``BlazingContext`` — the user-facing API, re-expressed on PySpark.

Parity surface (reference ``pyblazing/pyblazing/apiv2/context.py``):

- ``create_table(name, input, **kwargs)``      (context.py:2079)
- ``drop_table`` / ``list_tables`` / ``describe_table``  (:2578, :2600, :2618)
- ``sql(query, config_options, return_token)`` + ``status``/``fetch``
  async polling                                 (:3071, :3328, :3066)
- ``explain(sql, detail)``                      (:1842)
- ``log(query)`` — SQL over the engine's own query log   (:3346-3420)
- filesystem registration ``s3/hdfs/gs/localfs``         (:1695-1827)
- ``config_options`` translation                         (:1239-1275)

The Calcite + C++ layers of the reference collapse into ``spark.sql``:
parsing, optimization (SURVEY.md §4.1 — every HepPlanner rule has a
Catalyst builtin), and execution are Spark's.
"""

from __future__ import annotations

import itertools
import os
import time
import warnings
from concurrent.futures import Future, ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyblazing_spark.dialect import prepare as _prepare_sql
from pyblazing_spark.session import (
    ensure_runtime_confs,
    get_spark,
    local_frame,
    scoped_conf,
)
from pyblazing_spark.sources.files import read_source

#: Reference config_options (context.py:1239-1275) -> Spark conf translation.
#: Every option with a real Spark analogue is wired; the rest are accepted
#: and ignored (the reference ignores unknown options too) and listed in
#: ``_CONFIG_IGNORED`` so ``describe_config`` can report them honestly.
_CONFIG_MAP: dict[str, str] = {
    # memory thresholds -> unified-memory knobs (static core confs: only
    # effective when the BlazingContext builds the session itself).
    "BLAZING_PROCESSING_DEVICE_MEM_CONSUMPTION_THRESHOLD": "spark.memory.fraction",
    "BLAZING_DEVICE_MEM_CONSUMPTION_THRESHOLD": "spark.memory.storageFraction",
    # kernel/executor parallelism -> shuffle width
    "MAX_KERNEL_RUN_THREADS": "spark.sql.shuffle.partitions",
    # scatter-small-table threshold -> broadcast-join threshold
    "MAX_JOIN_SCATTER_MEM_OVERHEAD": "spark.sql.autoBroadcastJoinThreshold",
    # bytes per join partition -> AQE advisory post-shuffle partition size
    "JOIN_PARTITION_SIZE_THRESHOLD": "spark.sql.adaptive.advisoryPartitionSizeInBytes",
    # bytes per order-by partition -> the same AQE advisory size (range
    # exchanges are re-coalesced by AQE like hash exchanges)
    "NUM_BYTES_PER_ORDER_BY_PARTITION": "spark.sql.adaptive.advisoryPartitionSizeInBytes",
    # order-by sample count -> range-partitioner sample size
    "MAX_ORDER_BY_SAMPLES_PER_NODE": "spark.sql.execution.rangeExchange.sampleSizePerPartition",
    # data-load concat batch -> scan split size
    "MAX_DATA_LOAD_CONCAT_CACHE_BYTE_SIZE": "spark.sql.files.maxPartitionBytes",
}

#: Reference options with NO live-session Spark analogue: accepted,
#: ignored, reportable. (Transport/comms options describe the reference's
#: own UCX/TCP mesh — Spark's shuffle service replaces that wholesale;
#: logging sinks are Spark log4j config; memory-monitor cadence is the
#: executor heartbeat, fixed at launch.)
_CONFIG_IGNORED: frozenset[str] = frozenset(
    {
        "CONCATENATING_CACHE_NUM_BYTES_TIMEOUT",
        "MAX_NUM_ORDER_BY_PARTITIONS_PER_NODE",
        "FLOW_CONTROL_BYTES_THRESHOLD",
        "BLAZ_HOST_MEM_CONSUMPTION_THRESHOLD",
        "BLAZING_LOGGING_DIRECTORY",
        "BLAZING_CACHE_DIRECTORY",
        "BLAZING_LOCAL_LOGGING_DIRECTORY",
        "MEMORY_MONITOR_PERIOD",
        "EXECUTOR_THREADS",
        "MAX_SEND_MESSAGE_THREADS",
        "LOGGING_FLUSH_LEVEL",
        "ENABLE_GENERAL_ENGINE_LOGS",
        "ENABLE_COMMS_LOGS",
        "ENABLE_TASK_LOGS",
        "ENABLE_OTHER_ENGINE_LOGS",
        "LOGGING_MAX_SIZE_PER_FILE",
        "TRANSPORT_BUFFER_BYTE_SIZE",
        "TRANSPORT_POOL_NUM_BUFFERS",
        "PROTOCOL",
        "REQUIRE_ACKNOWLEDGE",
    }
)

#: reference LOGGING_LEVEL values -> log4j levels (handled via
#: ``sc.setLogLevel``, not a SQL conf).
_LOG_LEVELS: dict[str, str] = {
    "trace": "TRACE",
    "debug": "DEBUG",
    "info": "INFO",
    "warn": "WARN",
    "error": "ERROR",
    "critical": "FATAL",
    "off": "OFF",
}


@dataclass
class _TableEntry:
    name: str
    df: DataFrame
    source: str  # "parquet" | "csv" | "orc" | "json" | "dataframe" | "jdbc" | ...
    paths: list[str] = field(default_factory=list)
    kwargs: dict[str, Any] = field(default_factory=dict)


@dataclass
class _LogEntry:
    query_id: int
    query: str
    start_time: float
    duration_ms: float
    status: str


class BlazingContext:
    """Drop-in style context: register tables, run SQL, get DataFrames.

    Unlike the reference (eager cudf results), results are lazy Spark
    DataFrames by default; pass ``eager=True`` to ``sql`` (or construct with
    ``BlazingContext(eager=True)``) for materialized pandas results, which
    matches reference semantics (`context.py:3058-3079`).
    """

    def __init__(
        self,
        spark: SparkSession | None = None,
        config_options: dict[str, Any] | None = None,
        eager: bool = False,
        enable_progress_bar: bool = False,
    ) -> None:
        self.spark = ensure_runtime_confs(spark) if spark is not None else get_spark()
        self.eager = eager
        self._tables: dict[str, _TableEntry] = {}
        self._filesystems: dict[str, str] = {}
        self._log: list[_LogEntry] = []
        self._token_counter = itertools.count(1)
        self._pending: dict[int, Future] = {}
        self._fetched: set[int] = set()
        self._pool = ThreadPoolExecutor(max_workers=4, thread_name_prefix="bsql-async")
        self._peak_memory: dict[str, int] = {}
        self.enable_progress_bar = enable_progress_bar
        if config_options:
            self._apply_config(config_options)

    # ------------------------------------------------------------- config
    def _apply_config(self, options: dict[str, Any]) -> None:
        """Two reference options can map to ONE Spark conf (e.g. both
        JOIN_PARTITION_SIZE_THRESHOLD and NUM_BYTES_PER_ORDER_BY_PARTITION
        -> advisoryPartitionSizeInBytes). Later options win (caller dict
        order); when a conflicting earlier option is overridden,
        ``describe_config`` reports it as overridden rather than
        claiming both were applied."""
        self._config_applied: dict[str, str] = getattr(self, "_config_applied", {})
        setters: dict[str, tuple[str, str]] = {}  # spark conf -> (option, value)
        for key, value in options.items():
            if key == "LOGGING_LEVEL":
                level = _LOG_LEVELS.get(str(value).lower())
                if level:
                    self.spark.sparkContext.setLogLevel(level)
                    self._config_applied[key] = f"sc.setLogLevel({level})"
                continue
            spark_key = _CONFIG_MAP.get(key)
            if spark_key is None:
                continue
            try:
                self.spark.conf.set(spark_key, str(value))
                prior = setters.get(spark_key)
                if prior is not None and prior[1] != str(value):
                    self._config_applied[prior[0]] = (
                        f"{spark_key} (overridden by {key} — both options "
                        "map to this conf)"
                    )
                setters[spark_key] = (key, str(value))
                self._config_applied[key] = spark_key
            except Exception:
                pass  # static conf on a running session — keep reference behavior (ignore)

    def describe_config(self) -> dict[str, str]:
        """Mapping of reference option -> how this context applied it
        ('<spark conf key>' / 'ignored (no Spark analogue)'). Every option
        the reference accepts (context.py:1239-1275) appears."""
        out = {k: v for k, v in getattr(self, "_config_applied", {}).items()}
        for k in sorted(_CONFIG_MAP):
            out.setdefault(k, _CONFIG_MAP[k])
        out.setdefault("LOGGING_LEVEL", "sc.setLogLevel(<level>)")
        for k in sorted(_CONFIG_IGNORED):
            out.setdefault(k, "ignored (no Spark analogue)")
        return out

    # ------------------------------------------------------- table catalog
    def create_table(self, table_name: str, input: Any, **kwargs: Any) -> DataFrame:
        """Register a table from files, a DataFrame, pandas, or JDBC.

        Routing mirrors reference ``create_table`` (context.py:2079-2577):
        path(s) -> per-format reader with kwarg translation; in-memory
        frames -> direct registration; ``from_sql`` kwargs -> JDBC.
        Superset: a directory containing a ``_txn`` commit log registers
        as a TRANSACTIONAL-table snapshot read
        (:mod:`pyblazing_spark.sources.txn_table`); pass ``version=`` to
        time-travel the registration.
        """
        if (
            isinstance(input, str)
            and os.path.isdir(os.path.join(input, "_txn"))
        ):
            from pyblazing_spark.sources.txn_table import TxnTable

            t = TxnTable(self.spark, input)
            df = t.read(version=kwargs.pop("version", None))
            df.createOrReplaceTempView(table_name)
            self._tables[table_name] = _TableEntry(
                name=table_name, df=df, source="txn", paths=[input],
                kwargs=kwargs,
            )
            return df
        df, source, paths = read_source(
            self.spark, self._resolve_paths(input), _table_name=table_name, **kwargs
        )
        df.createOrReplaceTempView(table_name)
        self._tables[table_name] = _TableEntry(
            name=table_name, df=df, source=source, paths=paths, kwargs=kwargs
        )
        return df

    def drop_table(self, table_name: str) -> None:
        if table_name not in self._tables:
            raise ValueError(f"table not found: {table_name}")
        del self._tables[table_name]
        self.spark.catalog.dropTempView(table_name)

    def list_tables(self) -> list[str]:
        return sorted(self._tables)

    def describe_table(self, table_name: str) -> dict[str, str]:
        """Column -> type mapping (reference returns the same, :2618)."""
        if table_name not in self._tables:
            raise ValueError(f"table not found: {table_name}")
        return dict(self._tables[table_name].df.dtypes)

    def table(self, table_name: str) -> DataFrame:
        return self._tables[table_name].df

    # ---------------------------------------------------------------- sql
    def sql(
        self,
        query: str,
        algebra: str | None = None,
        config_options: dict[str, Any] | None = None,
        return_token: bool = False,
        eager: bool | None = None,
    ):
        """Run SQL over the registered tables.

        ``algebra`` mirrors the reference's pre-generated-plan argument
        (`context.py:3071`: "run on a relational algebra, instead of the
        query string"). The reference's algebra is a Calcite plan string;
        here the planner IS Catalyst, so the only supported plan
        interchange format is SQL itself: an ``algebra`` string is
        executed as the statement (reference behavior: when given, it
        replaces the query). Calcite ``LogicalProject(...)``-style input
        is rejected loudly rather than misparsed.

        ``return_token=True`` mirrors the reference's async mode
        (`context.py:3328`): returns an int token; poll with
        :meth:`status` and collect with :meth:`fetch`.
        """
        if algebra is not None:
            if algebra.lstrip()[:7] in ("Logical", "Bindabl") or "(" == algebra.lstrip()[:1]:
                raise ValueError(
                    "algebra= expects a SQL statement in this engine (Catalyst "
                    "is the planner; Calcite relational-algebra strings are a "
                    "reference-internal format and cannot be executed here)"
                )
            query = algebra
        if config_options:
            self._apply_config(config_options)
        query = _prepare_sql(query)
        started = time.time()
        query_id = next(self._token_counter)
        if return_token:
            future = self._pool.submit(self._run_eager, query, query_id, started)
            self._pending[query_id] = future
            return query_id
        if eager if eager is not None else self.eager:
            return self._run_eager(query, query_id, started)
        df = self.spark.sql(query)
        # Lazy mode only PLANNED the query — nothing executed yet, so an
        # "ok" row with a ~0 ms duration would mislead ``bc.log()``
        # consumers into reading plan time as run time.  Record the row as
        # "planned" (duration = planning time) instead.
        self._log.append(
            _LogEntry(query_id, query, started, (time.time() - started) * 1000.0, "planned")
        )
        return df

    def _reference_eval(self):
        """Reference evaluation semantics for eager (reference-style) SQL.

        The reference's Calcite/cuDF surface never raises on runtime
        arithmetic: division by zero and malformed casts yield NULL
        (cuDF semantics; e.g. the corpus query
        ``dirSuite/TEST_14`` computes ``avg(81619.0/o_orderkey)`` over an
        orderkey domain that includes 0). Spark 4's ANSI mode throws
        instead, so eager execution — the mode that mirrors the
        reference's eager cudf results — runs with ANSI off. The scope is
        shared with concurrent eager queries on the async pool: the
        session value returns only when the last of them finishes. Lazy
        mode returns a plain Spark DataFrame and deliberately keeps
        session semantics."""
        return scoped_conf(self.spark, {"spark.sql.ansi.enabled": "false"})

    def _run_eager(self, query: str, query_id: int, started: float):
        try:
            with self._reference_eval():
                result = self.spark.sql(query).toPandas()
            self._log.append(
                _LogEntry(query_id, query, started, (time.time() - started) * 1000.0, "ok")
            )
            return result
        except Exception:
            self._log.append(
                _LogEntry(query_id, query, started, (time.time() - started) * 1000.0, "error")
            )
            raise

    def status(self, token: int) -> bool:
        """True once the async query finished (reference ``status``, :3328).

        Stays answerable after :meth:`fetch` (a finished-and-collected
        query is still "done"); a token that was never issued raises a
        descriptive error instead of a bare ``KeyError``."""
        if token in self._fetched:
            return True
        try:
            return self._pending[token].done()
        except KeyError:
            raise ValueError(f"unknown query token: {token!r}") from None

    def fetch(self, token: int):
        """Block for and return the async result (reference ``fetch``, :3066)."""
        try:
            future = self._pending.pop(token)
        except KeyError:
            if token in self._fetched:
                raise ValueError(f"query token {token!r} was already fetched") from None
            raise ValueError(f"unknown query token: {token!r}") from None
        self._fetched.add(token)
        return future.result()

    # ------------------------------------------------------------- explain
    def explain(self, sql: str, detail: bool = False) -> str:
        """Optimized plan string (reference ``explain``, :1842).

        ``detail=True`` returns the formatted physical plan (the reference's
        'physical graph' mode)."""
        df = self.spark.sql(_prepare_sql(sql))
        mode = "formatted" if detail else "simple"
        return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
            df._jdf.queryExecution(), mode
        )

    # ----------------------------------------------------------------- log
    def log(self, query: str = "SELECT * FROM bsql_logs") -> DataFrame:
        """SQL over the engine's own query log (reference :3346-3420).

        The reference exposes per-kernel timing rows from its own logging
        DB as the ``bsql_logs`` pseudo-table; here the analogous unit is
        per-query wall time from this context."""
        rows = [
            (e.query_id, e.query, float(e.start_time), float(e.duration_ms), e.status)
            for e in self._log
        ]
        schema = "query_id long, query string, start_time double, duration_ms double, status string"
        df = local_frame(self.spark, rows, schema)
        df.createOrReplaceTempView("bsql_logs")
        return self.spark.sql(query)

    # ------------------------------------------------------- filesystems
    # Reference model (context.py:1695-1827): register a filesystem under a
    # named prefix; table paths using that prefix route to it. We keep a
    # prefix -> base-URI map consulted by create_table, and NEVER touch
    # fs.defaultFS — changing the session default would reroute every
    # relative path of every other table in the shared SparkSession.

    def _resolve_paths(self, paths: Any) -> Any:
        if isinstance(paths, str):
            for prefix, base in self._filesystems.items():
                token = f"{prefix}://"
                if paths.startswith(token):
                    # base always ends with "/" (enforced at registration),
                    # so the joint can't concatenate into a wrong path or
                    # let Hadoop read the remainder as a URI authority.
                    return base + paths[len(token):].lstrip("/")
            return paths
        if isinstance(paths, (list, tuple)):
            return [self._resolve_paths(p) for p in paths]
        return paths

    def localfs(self, prefix: str, root: str = "", **kwargs: Any) -> None:
        """Register a local-path prefix (reference :1695)."""
        self._filesystems[prefix] = (
            f"file://{root.rstrip('/')}/" if root else "file:///"
        )

    def s3(self, prefix: str, bucket_name: str = "", **kwargs: Any) -> None:
        """Register S3 credentials + a bucket prefix (reference :1737-1787)."""
        hconf = self.spark.sparkContext._jsc.hadoopConfiguration()
        if "access_key_id" in kwargs:
            hconf.set("fs.s3a.access.key", kwargs["access_key_id"])
        if "secret_key" in kwargs:
            hconf.set("fs.s3a.secret.key", kwargs["secret_key"])
        if "session_token" in kwargs:
            hconf.set("fs.s3a.session.token", kwargs["session_token"])
        if "endpoint_override" in kwargs and kwargs["endpoint_override"]:
            hconf.set("fs.s3a.endpoint", kwargs["endpoint_override"])
        self._filesystems[prefix] = f"s3a://{bucket_name}/" if bucket_name else "s3a://"

    def gs(self, prefix: str, project_id: str = "", bucket_name: str = "", **kwargs: Any) -> None:
        """Register GCS options + a bucket prefix (reference :1789-1827)."""
        hconf = self.spark.sparkContext._jsc.hadoopConfiguration()
        if project_id:
            hconf.set("fs.gs.project.id", project_id)
        if kwargs.get("use_default_adc_json_keyfile_path"):
            hconf.set("google.cloud.auth.service.account.json.keyfile",
                      str(kwargs["use_default_adc_json_keyfile_path"]))
        self._filesystems[prefix] = f"gs://{bucket_name}/" if bucket_name else "gs://"

    #: Reference hdfs kwargs (context.py:1703-1744: host/port/user/
    #: kerb_ticket, plus driver which is libhdfs-specific) -> Hadoop confs.
    _HDFS_KWARG_CONFS = {
        "user": ("hadoop.user.name",),
        "kerb_ticket": (
            "hadoop.security.authentication",  # set to "kerberos"
            "hadoop.security.kerberos.ticket.cache.path",
        ),
        "kerberos_principal": ("dfs.namenode.kerberos.principal",),
        "kerberos_keytab": ("hadoop.security.keytab.file",),
    }

    def hdfs(self, prefix: str, host: str = "", port: int = 8020, **kwargs: Any) -> None:
        """Register an HDFS namenode under a prefix (reference :1703-1744).

        Fully-qualified ``hdfs://host:port/...`` paths work in Spark with
        no registration at all; this exists so ``<prefix>://path`` table
        paths resolve like the reference's.  The reference's auth kwargs
        (``user``, ``kerb_ticket`` for kerberos ticket-cache auth, plus
        principal/keytab) map onto the session's Hadoop configuration so
        the Spark-side HDFS client authenticates the same way; unknown
        kwargs warn instead of silently dropping (the reference validates
        its kwarg set — ``kwargs_validation(kwargs, "hdfs")``)."""
        hconf = self.spark.sparkContext._jsc.hadoopConfiguration()
        for key, value in kwargs.items():
            confs = self._HDFS_KWARG_CONFS.get(key)
            if confs is None:
                if key != "driver":  # libhdfs driver choice: meaningless on Spark
                    warnings.warn(f"hdfs(): unknown option {key!r} ignored", stacklevel=2)
                continue
            if key == "kerb_ticket":
                hconf.set("hadoop.security.authentication", "kerberos")
                hconf.set("hadoop.security.kerberos.ticket.cache.path", str(value))
            else:
                for conf in confs:
                    hconf.set(conf, str(value))
        if host:
            self._filesystems[prefix] = f"hdfs://{host}:{port}/"

    def show_filesystems(self) -> dict[str, str]:
        """Print (and return) the registered filesystem prefixes
        (reference ``context.py:1828`` prints its FileSystem registry).

        Returns the prefix -> resolved-base mapping too so callers can
        inspect it programmatically — the reference's print-only form
        gives scripts nothing to branch on."""
        fs = dict(self._filesystems)
        if fs:
            width = max(len(p) for p in fs)
            for prefix, base in sorted(fs.items()):
                print(f"{prefix:<{width}} -> {base}")
        else:
            print("(no filesystems registered)")
        return fs

    # ------------------------------------------------------------- memory
    def get_free_memory(self) -> dict[int, int]:
        """Executor-level free memory (reference :1959 returns per-GPU)."""
        jsc = self.spark.sparkContext._jsc.sc()
        mem = jsc.getExecutorMemoryStatus()
        out: dict[int, int] = {}
        it = mem.iterator()
        idx = 0
        while it.hasNext():
            entry = it.next()
            out[idx] = int(entry._2()._2())
            idx += 1
        return out

    def get_max_memory_used(self) -> dict[int, int]:
        """Peak memory used per executor, in BYTES (reference :2003
        returns the per-GPU peak since context creation).

        Sources, max-combined per executor: the status store's
        heartbeat-updated peak executor metrics (JVMHeapMemory /
        OnHeapUnifiedMemory), current storage-memory usage, and — for
        the driver-executor (always present in local mode) — a live JVM
        heap probe. A running max across calls preserves the
        "peak since context creation" contract between heartbeats."""
        jvm = self.spark.sparkContext._jvm
        store = self.spark.sparkContext._jsc.sc().statusStore()
        out: dict[int, int] = {}
        it = store.executorList(True).iterator()
        idx = 0
        while it.hasNext():
            e = it.next()
            peak = int(e.memoryUsed())
            pmm = e.peakMemoryMetrics()
            if pmm.isDefined():
                m = pmm.get()
                peak = max(
                    peak,
                    int(m.getMetricValue("JVMHeapMemory")),
                    int(m.getMetricValue("OnHeapUnifiedMemory")),
                )
            exec_id = str(e.id())
            if exec_id == "driver":
                rt = jvm.java.lang.Runtime.getRuntime()
                peak = max(peak, int(rt.totalMemory() - rt.freeMemory()))
            self._peak_memory[exec_id] = max(self._peak_memory.get(exec_id, 0), peak)
            out[idx] = self._peak_memory[exec_id]
            idx += 1
        return out

    def reset_max_memory_used(self) -> None:
        """Reset the peak-memory counters to zero (reference
        ``context.py:2047`` resets its per-GPU peak counter on every
        worker).  The next :meth:`get_max_memory_used` call re-seeds
        each executor's peak from its live metrics — "peak since last
        reset", the closest Spark analogue of the reference contract."""
        self._peak_memory.clear()

    @staticmethod
    def _check_tqdm() -> bool:
        """True if tqdm is importable (reference ``context.py:3677``)."""
        try:
            import tqdm  # noqa: F401

            return True
        except Exception:
            return False

    def do_progress_bar(self, arg: Any, progress_bar_fn, wait_fn) -> None:
        """Reference-contract progress dispatch (``context.py:3758``):
        run ``progress_bar_fn(arg)`` only when progress bars are enabled
        AND tqdm imports; otherwise fall back to ``wait_fn(arg)``.

        On Spark the natural ``progress_bar_fn`` polls
        ``spark.sparkContext.statusTracker()`` for active-stage task
        counts while the job thread runs — but the dispatch contract
        (what callers rely on) is exactly the reference's, so this shim
        keeps its shape byte-for-byte semantics-equivalent."""
        if not self.enable_progress_bar:
            wait_fn(arg)
            return
        if not self._check_tqdm():
            wait_fn(arg)
            return
        progress_bar_fn(arg)

    # --------------------------------------------------------------- misc
    def partition(self, input: DataFrame, by: list[str] | None = None) -> DataFrame:
        """Deprecated in the reference (:3018); here: hash repartition."""
        if by:
            return input.repartition(*[F.col(c) for c in by])
        return input.repartition(self.spark.sparkContext.defaultParallelism)

    def stop(self) -> None:
        self._pool.shutdown(wait=False)
