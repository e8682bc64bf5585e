"""Structured Streaming operators over the ``events`` table.

The reference engine has no event-time semantics at all (SURVEY.md
§2.9); Spark gives us watermarks, tumbling windows, session windows and
arbitrary stateful processing natively, so these are thin, idiomatic
compositions:

- file-source ``readStream`` (each micro-batch is a slice of files — at
  100 TB the same code points at a landing directory or Kafka),
- watermark + ``window()`` tumbling aggregation,
- watermark + ``session_window()`` gap sessionization,
- ``applyInPandasWithState`` for custom per-key running state.

For the driver's batch-oriented correctness harness, each streaming
query can be drained to completion with ``Trigger.AvailableNow`` into a
memory sink (:func:`run_available_now`) — the result is then an ordinary
DataFrame whose values DuckDB can oracle-check.
"""

from __future__ import annotations

import itertools
from collections.abc import Iterable, Iterator
from typing import TYPE_CHECKING, Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from pyblazing_spark.session import ensure_runtime_confs

if TYPE_CHECKING:  # pragma: no cover
    import pandas as pd

#: events.parquet schema for the stream source. ts is declared
#: TimestampType directly: the Spark 4 streaming parquet reader converts
#: the file's TIMESTAMP(NANOS) to micros during vectorized decode even
#: when nanosAsLong is set (unlike the batch path, where the inferred
#: schema under that conf is int64 nanos and the loader must `div 1000`
#: itself — see sources/tables.py). Declaring LongType here would hand
#: us micros mislabeled as nanos and a double division.
_EVENTS_RAW_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)

_sink_counter = itertools.count()


def read_events_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """``readStream`` over the events parquet. Unlike the batch loader
    (:func:`pyblazing_spark.sources.tables.load_table`), no manual
    ns->us conversion happens here: the streaming parquet reader decodes
    the file's TIMESTAMP(NANOS) to micros TIMESTAMP directly under the
    declared schema (see ``_EVENTS_RAW_SCHEMA``)."""
    ensure_runtime_confs(spark)
    # The file stream source needs a directory base path; bracketing the
    # last character makes the path a glob whose base is the containing
    # dir (production would watch a landing directory instead).
    reader = spark.readStream.schema(_EVENTS_RAW_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    # Watermarks require TIMESTAMP (not NTZ); with the session timezone
    # pinned to UTC the instant<->naive mapping is value-preserving, so
    # results cast back to NTZ compare exactly against the batch loader.
    return reader.parquet(f"{sf_dir}/events.parque[t]")


def windowed_counts_stream(
    stream: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Tumbling event-time window counts with late-data handling.

    The watermark bounds state: windows older than (max event time -
    watermark) are finalized and evicted — the knob that keeps a 100 TB/
    day stream's state finite."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.col("win.start").alias("hour_bucket"),
            "event_type",
            "n",
            "total_value",
        )
    )


def session_counts_stream(
    stream: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Per-user session aggregation via ``session_window`` (native gap
    sessionization — merges events closer than ``gap``)."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sw"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            "n_events",
        )
    )


def stateful_user_totals(stream: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    running (n_events, total_value) across micro-batches — the Spark
    equivalent of a hand-rolled stateful kernel (the reference has no
    such surface at all)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("total_value", DoubleType()),
        ]
    )
    state_schema = StructType(
        [StructField("n", LongType()), StructField("total", DoubleType())]
    )

    def update(
        key: tuple[Any, ...],
        batches: Iterator["pd.DataFrame"],
        state: GroupState,
    ) -> Iterable["pd.DataFrame"]:
        import pandas as pd

        n, total = state.get if state.exists else (0, 0.0)
        for pdf in batches:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 2)]}
        )

    return stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def dedup_stream(
    stream: DataFrame,
    keys: list[str] | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming exact dedup with BOUNDED state:
    ``dropDuplicatesWithinWatermark`` keeps a key only until the
    watermark passes it, so a 100 TB/day stream's dedup state stays
    finite (plain ``dropDuplicates`` grows without bound). The event
    timestamp must be part of the key set for the drained result to
    equal batch ``SELECT DISTINCT`` — identical keys then always share
    a timestamp, so no duplicate pair can straddle the watermark."""
    keys = keys or ["user_id", "ts", "event_type"]
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)


def read_landing_stream(
    spark: SparkSession, landing_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """``readStream`` over a controlled landing DIRECTORY, one micro-batch
    per file in modification-time order (``latestFirst=false``) — the
    harness for deterministic MULTI-batch semantics (watermark
    progression, late-data drops), where the single-file fixture read of
    :func:`read_events_stream` would collapse everything into one batch
    and the watermark could never advance between arrivals."""
    ensure_runtime_confs(spark)
    return (
        spark.readStream.schema(_EVENTS_RAW_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .option("latestFirst", "false")
        .parquet(landing_dir)
    )


def run_available_now(
    result: DataFrame,
    output_mode: str = "complete",
    timeout_sec: int = 300,
    progress_out: list | None = None,
) -> DataFrame:
    """Drain a streaming DataFrame to completion (``Trigger.AvailableNow``)
    into a memory sink and return the materialized result as a batch
    DataFrame. Test/driver harness plumbing — production sinks are
    ``writeStream.format("parquet"/"kafka"/...)``."""
    from pyblazing_spark.session import scoped_conf

    spark = result.sparkSession
    name = f"__stream_sink_{next(_sink_counter)}"
    # State-store partition count is frozen from spark.sql.shuffle.partitions
    # at query START; a plain driver session's fact-table-width default
    # (200) means 200 state-store instances per stateful operator for a
    # memory-sink drain. Scope it to cluster parallelism for the drain —
    # production writeStream sinks are started by the caller and inherit
    # the session's own sizing.
    # Cap at 4: each state-store instance costs per-micro-batch task +
    # provider overhead that dwarfs the fixture-scale state it holds
    # (measured: the two-sided interval join drain drops 3.9s -> 2.6s
    # going 8 -> 4 partitions at sf0.01, and sf0.1 rows are still only
    # ~150k/task). Production writeStream sinks are started by the
    # caller and size state stores to the real keyspace instead.
    confs = {
        "spark.sql.shuffle.partitions": str(
            max(2, min(4, spark.sparkContext.defaultParallelism))
        )
    }
    with scoped_conf(spark, confs):
        query = (
            result.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        try:
            finished = query.awaitTermination(timeout_sec)
            if not finished:
                raise TimeoutError(
                    f"stream drain did not finish within {timeout_sec}s — "
                    "the memory sink would hold a PARTIAL result"
                )
            if progress_out is not None:
                # per-micro-batch progress (numInputRows, watermark,
                # stateOperators[].numRowsDroppedByWatermark, ...) for
                # callers that assert on the engine's own accounting
                progress_out.extend(query.recentProgress)
        finally:
            query.stop()
    return spark.table(name)


def interval_join_streams(
    stream: DataFrame,
    left_type: str = "view",
    right_type: str = "purchase",
    within: str = "1 hour",
    watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """STREAM-STREAM inner join with event-time bounds: pair each
    ``left_type`` event with the same user's ``right_type`` events that
    follow within ``within`` — the attribution-join shape (view ->
    purchase). Both sides carry watermarks and the join condition bounds
    event time on both sides, so Spark derives a state-eviction horizon
    for EACH side: per-key join state is dropped once the other side's
    watermark passes the bound, which is what makes a two-sided join
    runnable forever on unbounded streams (an unbounded-state
    stream-stream join is rejected by the planner in append mode).

    At 100 TB/day the state held is only events inside the watermark
    horizon per (user, side); the join itself shuffles both streams on
    user_id exactly like the batch equi-join.

    ``how="leftOuter"`` adds the abandoned-view semantics: a left row
    with no match emits NULL-padded ONLY when the watermark passes its
    join horizon (that is when Spark can prove no future match exists),
    so outer results trail the data by the watermark delay, and rows
    whose horizon the final watermark never passed are withheld at
    drain end — callers comparing against a batch LEFT JOIN must
    restrict both sides to the watermark-closed region (see
    ``stream_left_outer_join``)."""
    v = (
        stream.where(F.col("event_type") == left_type)
        .select(F.col("user_id").alias("v_user"), F.col("ts").alias("v_ts"))
        .withWatermark("v_ts", watermark)
    )
    p = (
        stream.where(F.col("event_type") == right_type)
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("value").alias("p_value"),
        )
        .withWatermark("p_ts", watermark)
    )
    cond = F.expr(
        f"v_user = p_user AND p_ts >= v_ts AND p_ts <= v_ts + INTERVAL {within}"
    )
    return v.join(p, cond, how)


def session_timeout_stream(
    stream: DataFrame, gap_minutes: int = 30, watermark: str = "1 hour"
) -> DataFrame:
    """Timer-driven sessionization via ``applyInPandasWithState`` +
    ``EventTimeTimeout`` — the capability ``session_window`` hides:
    explicit per-key TIMERS. A user's open session lives in state with
    a timeout registered at ``session_end + gap``; it closes two ways:

    - ``gap``: a later event for the same user arrives more than
      ``gap`` after the session's end — the closed session is emitted
      IMMEDIATELY (its closure is proven by data, no timer needed);
    - ``timer``: the event-time watermark passes the registered
      timeout — Spark invokes the function with ``state.hasTimedOut``
      and the session is emitted with no new input rows at all.

    State per key is ONE (start, end, n) triple — bounded regardless
    of stream length; the timer registry is the state store's own.
    Sessions still open when the stream drains stay un-emitted (their
    closure was never proven), which is exactly the replayable-pipeline
    contract: re-running with more data can only APPEND sessions."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = gap_minutes * 60 * 1_000_000
    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("session_start", TimestampType()),
            StructField("session_end", TimestampType()),
            StructField("n_events", LongType()),
            StructField("closed_by", StringType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("start_us", LongType()),
            StructField("end_us", LongType()),
            StructField("n", LongType()),
        ]
    )

    def update(
        key: tuple[Any, ...],
        batches: Iterator["pd.DataFrame"],
        state: GroupState,
    ) -> Iterable["pd.DataFrame"]:
        import pandas as pd

        def emit(start_us: int, end_us: int, n: int, how: str) -> "pd.DataFrame":
            return pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "session_start": [pd.Timestamp(start_us, unit="us")],
                    "session_end": [pd.Timestamp(end_us, unit="us")],
                    "n_events": [n],
                    "closed_by": [how],
                }
            )

        if state.hasTimedOut:
            s, e, n = state.get
            state.remove()
            yield emit(s, e, n, "timer")
            return
        ts_us = sorted(
            int(t)
            for pdf in batches
            for t in (pdf["ts"].astype("int64") // 1000).tolist()
        )
        cur = state.get if state.exists else None
        for t in ts_us:
            if cur is None:
                cur = (t, t, 1)
            elif t - cur[1] > gap_us:
                yield emit(*cur, "gap")
                cur = (t, t, 1)
            else:
                cur = (cur[0], max(cur[1], t), cur[2] + 1)
        if cur is not None:
            state.update(cur)
            # timers fire when the watermark moves strictly past this
            state.setTimeoutTimestamp((cur[1] + gap_us) // 1000)

    return (
        stream.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def session_timeout_stream_bucketed(
    stream: DataFrame,
    gap_minutes: int = 30,
    watermark: str = "1 hour",
    n_buckets: int = 64,
) -> DataFrame:
    """:func:`session_timeout_stream` with HASH-BUCKETED state — the
    throughput fix for the one streaming shape that was Python-per-key-
    state-bound (VERDICT r11: 50k tiny groups/batch ran at ~2.1k
    rows/s, dominated by one pandas round-trip per user per batch).
    Users are hash-bucketed into ``n_buckets`` state keys (size to
    ~4x cores); each state row carries a dict of that bucket's open
    sessions, so a batch pays ``n_buckets`` Python invocations instead
    of one per active user.

    Semantics are IDENTICAL to the per-user operator (pinned by
    ``test_session_bucketed_matches_per_user``): within a bucket, rows
    process in (user, ts) order, a later same-user event beyond the
    gap closes a session as "gap" exactly as before, and expired
    sessions close as "timer" via a bucket-level sweep — on EVERY
    invocation, any session whose ``end + gap`` deadline lies strictly
    behind the current watermark is emitted (the same strictly-past
    condition Spark applies to per-key timers), so one bucket timer at
    the MIN remaining deadline replaces |bucket| per-user timers.
    Because the sweep drains every expired session in one call, a
    re-registered deadline below the watermark cannot strand sessions
    at stream end the way chained per-key timers would.

    The trade, stated: timer GRANULARITY is per bucket — a bucket
    invocation wakes for the earliest deadline and sweeps all expired
    members, so a session's "timer" row can surface one micro-batch
    later than with a dedicated per-user timer (content identical;
    the availableNow drain emits the same final set). State per bucket
    is a pickled dict (BinaryType) — bounded by that bucket's OPEN
    sessions, evicted on close like the per-user rows."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    gap_us = gap_minutes * 60 * 1_000_000
    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("session_start", TimestampType()),
            StructField("session_end", TimestampType()),
            StructField("n_events", LongType()),
            StructField("closed_by", StringType()),
        ]
    )
    state_schema = StructType([StructField("blob", BinaryType())])

    def update(key, batches, state):
        import pickle

        import pandas as pd

        sessions: dict = (
            pickle.loads(state.get[0]) if state.exists else {}
        )
        rows: list[tuple[int, int]] = []
        if not state.hasTimedOut:
            for pdf in batches:
                if len(pdf):
                    rows.extend(
                        zip(
                            pdf["user_id"].tolist(),
                            (pdf["ts"].astype("int64") // 1000).tolist(),
                        )
                    )
        rows.sort()
        out: list[tuple[int, int, int, int, str]] = []
        for uid, t in rows:
            cur = sessions.get(uid)
            if cur is None:
                sessions[uid] = (t, t, 1)
            elif t - cur[1] > gap_us:
                out.append((uid, cur[0], cur[1], cur[2], "gap"))
                sessions[uid] = (t, t, 1)
            else:
                sessions[uid] = (cur[0], max(cur[1], t), cur[2] + 1)
        wm_ms = state.getCurrentWatermarkMs()
        expired = sorted(
            uid
            for uid, (_s, e, _n) in sessions.items()
            if wm_ms > (e + gap_us) // 1000
        )
        for uid in expired:
            s, e, n = sessions.pop(uid)
            out.append((uid, s, e, n, "timer"))
        if sessions:
            state.update((pickle.dumps(sessions, protocol=4),))
            nxt = min((e + gap_us) // 1000 for (_s, e, _n) in sessions.values())
            # a deadline at/behind the watermark would be rejected by
            # Spark; the next sweep catches it regardless of when the
            # bucket wakes, so clamping is safe.
            state.setTimeoutTimestamp(max(nxt, wm_ms + 1))
        elif state.exists:
            state.remove()
        if out:
            yield pd.DataFrame(
                {
                    "user_id": [r[0] for r in out],
                    "session_start": [
                        pd.Timestamp(r[1], unit="us") for r in out
                    ],
                    "session_end": [pd.Timestamp(r[2], unit="us") for r in out],
                    "n_events": [r[3] for r in out],
                    "closed_by": [r[4] for r in out],
                }
            )

    return (
        stream.withWatermark("ts", watermark)
        .withColumn(
            # HASH-bucket (not plain modulo): strided or clustered
            # user_id distributions (all-even ids, sharded id ranges)
            # would collapse pmod(user_id, n) onto few buckets,
            # reintroducing the per-invocation skew this operator
            # exists to fix (ADVICE r12).
            "__bucket",
            F.pmod(F.xxhash64(F.col("user_id")), F.lit(n_buckets)),
        )
        .groupBy("__bucket")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
