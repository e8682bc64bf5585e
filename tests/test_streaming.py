"""Structured Streaming operators: multi-micro-batch stateful
accumulation, session-window boundary semantics, and stream-vs-batch
equivalence. The registered stream_* queries in plans/streaming.py are
oracle-checked in test_queries.py; these tests cover behaviors only
visible with more than one micro-batch."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pyblazing_spark.sources.tables import load_table
from pyblazing_spark.streaming import (
    run_available_now,
    stateful_user_totals,
    windowed_counts_stream,
)


@pytest.fixture(scope="module")
def two_file_stream_dir(spark, sf_dir, tmp_path_factory):
    """events split into two parquet files so maxFilesPerTrigger=1 yields
    two micro-batches."""
    ev = load_table(spark, sf_dir, "events")
    out = str(tmp_path_factory.mktemp("stream") / "events_split")
    lo, hi = ev.where(F.col("event_id") % 2 == 0), ev.where(F.col("event_id") % 2 == 1)
    lo.coalesce(1).write.parquet(out)
    hi.coalesce(1).write.mode("append").parquet(out)
    return out


def _read_split_stream(spark, path):
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )


def test_stateful_totals_accumulate_across_microbatches(spark, sf_dir, two_file_stream_dir):
    """With two micro-batches, applyInPandasWithState must carry state
    over: the final update per user equals the full batch aggregate."""
    stream = _read_split_stream(spark, two_file_stream_dir)
    out = run_available_now(stateful_user_totals(stream), output_mode="update")
    # update mode: one row per key per micro-batch it appeared in; the
    # final state is the row with the highest n_events.
    final = {
        r.user_id: (r.n_events, r.total_value)
        for r in out.groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max_by("total_value", "n_events").alias("total_value"),
        )
        .collect()
    }
    batch = {
        r.user_id: (r.n, round(r.tv, 2))
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("tv"))
        .collect()
    }
    assert final == batch
    # at least one user must have received updates in BOTH batches,
    # otherwise this test isn't exercising cross-batch state.
    multi = out.groupBy("user_id").count().where(F.col("count") > 1).count()
    assert multi > 0


def test_windowed_counts_incremental_equals_batch(spark, sf_dir, two_file_stream_dir):
    stream = _read_split_stream(spark, two_file_stream_dir)
    out = run_available_now(windowed_counts_stream(stream), output_mode="complete")
    got = {
        (r.hour_bucket, r.event_type): r.n
        for r in out.collect()
    }
    exp = {
        (r.b, r.event_type): r.n
        for r in load_table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("hour", "ts").alias("b"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert {(k[0].replace(tzinfo=None), k[1]): v for k, v in got.items()} == {
        (k[0], k[1]): v for k, v in exp.items()
    }


def test_late_filter_lags_eviction_by_one_batch(spark, tmp_path):
    """Pins the Spark >=3.4 two-watermark semantics stream_late_data_drop
    depends on: within a batch, the LATE filter uses the previous
    batch's watermark while EVICTION uses the fresh one — so an
    old-but-second-batch row is admitted, and only a third-batch
    straggler is dropped. If a Spark upgrade changes this, the entry's
    three-batch construction must be revisited."""
    import glob
    import os
    import shutil

    from pyblazing_spark.streaming import read_landing_stream

    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    batches = (
        [(1, "2024-01-02 10:30:00"), (2, "2024-01-02 12:30:00")],  # wm -> 10:30
        [(3, "2024-01-02 11:30:00")],  # below wm but admitted (late filter lags)
        [(4, "2024-01-01 05:30:00"), (5, "2024-01-01 05:40:00")],  # dropped
    )
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(rows, "event_id long, s string").select(
            "event_id",
            F.col("s").cast("timestamp").alias("ts"),
            F.lit(1).cast("long").alias("user_id"),
            F.lit("view").alias("event_type"),
            F.lit(1.0).alias("value"),
            F.lit("{}").alias("props"),
        )
        tmp = str(tmp_path / f"b{i}")
        df.coalesce(1).write.parquet(tmp)
        dst = f"{landing}/{i}.parquet"
        shutil.copyfile(glob.glob(f"{tmp}/part-*.parquet")[0], dst)
        os.utime(dst, (1_700_000_000 + 100 * i,) * 2)
    progress: list = []
    out = run_available_now(
        windowed_counts_stream(read_landing_stream(spark, landing)),
        output_mode="append",
        progress_out=progress,
    ).collect()
    dropped = [
        sum(s["numRowsDroppedByWatermark"] for s in p["stateOperators"])
        for p in sorted(progress, key=lambda p: p["batchId"])
    ]
    # batch 1's old row admitted (late wm lags at 0); batch 2's two
    # stragglers merge into ONE group row before the state op drops it
    assert dropped == [0, 0, 1], (dropped, progress)
    # append emission: no window end <= wm (10:30) exists -> nothing out
    assert out == [], out


def test_session_timeout_stream_timer_and_gap_paths(spark, tmp_path):
    """Pins BOTH closure paths of the timer sessionizer across three
    controlled batches: an in-batch gap split emits immediately; a
    timer fires only once the watermark strictly passes session_end +
    gap; open sessions at drain stay un-emitted."""
    import glob
    import os
    import shutil

    from pyblazing_spark.streaming import read_landing_stream
    from pyblazing_spark.streaming.ops import run_available_now, session_timeout_stream

    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    batches = (
        # u1: two sessions in one batch -> first closes by GAP at once;
        # second [11:20] gets timer 11:50
        [(1, 1, "2024-01-02 10:00:00"), (2, 1, "2024-01-02 10:10:00"),
         (3, 1, "2024-01-02 11:20:00")],
        # u2 drives the watermark to 12:00 (delay 1h); timer 11:50 does
        # NOT fire in this batch (wm during it is still 0)
        [(4, 2, "2024-01-02 13:00:00")],
        # u3 keeps wm at 12:05; during this batch wm=12:00 > 11:50 ->
        # u1's second session fires by TIMER; u2's timer (13:30) and
        # u3's session stay open
        [(5, 3, "2024-01-02 13:05:00")],
    )
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(rows, "event_id long, user_id long, s string").select(
            "event_id",
            F.col("s").cast("timestamp").alias("ts"),
            "user_id",
            F.lit("view").alias("event_type"),
            F.lit(1.0).alias("value"),
            F.lit("{}").alias("props"),
        )
        tmp = str(tmp_path / f"b{i}")
        df.coalesce(1).write.parquet(tmp)
        dst = f"{landing}/{i}.parquet"
        shutil.copyfile(glob.glob(f"{tmp}/part-*.parquet")[0], dst)
        os.utime(dst, (1_700_000_000 + 100 * i,) * 2)
    out = run_available_now(
        session_timeout_stream(read_landing_stream(spark, landing)),
        output_mode="append",
    ).collect()
    got = {
        (r.user_id, r.session_start.isoformat(), r.session_end.isoformat(),
         r.n_events, r.closed_by)
        for r in out
    }
    assert got == {
        (1, "2024-01-02T10:00:00", "2024-01-02T10:10:00", 2, "gap"),
        (1, "2024-01-02T11:20:00", "2024-01-02T11:20:00", 1, "timer"),
    }, got


def _three_batch_landing(spark, tmp_path):
    import glob
    import os
    import shutil

    landing = str(tmp_path / "landing_b")
    os.makedirs(landing)
    batches = (
        # users 1 and 65 share bucket 1 at n_buckets=64 — the dict state
        # must keep them separate; u1 gap-splits in-batch
        [(1, 1, "2024-01-02 10:00:00"), (2, 1, "2024-01-02 10:10:00"),
         (3, 1, "2024-01-02 11:20:00"), (6, 65, "2024-01-02 10:05:00")],
        [(4, 2, "2024-01-02 13:00:00")],
        # wm reaches 12:00 during this batch -> u1's 11:20 session and
        # u65's 10:05 session close by timer (bucket sweep)
        [(5, 3, "2024-01-02 13:05:00")],
    )
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(
            rows, "event_id long, user_id long, s string"
        ).select(
            "event_id",
            F.col("s").cast("timestamp").alias("ts"),
            "user_id",
            F.lit("view").alias("event_type"),
            F.lit(1.0).alias("value"),
            F.lit("{}").alias("props"),
        )
        tmp = str(tmp_path / f"bb{i}")
        df.coalesce(1).write.parquet(tmp)
        dst = f"{landing}/{i}.parquet"
        shutil.copyfile(glob.glob(f"{tmp}/part-*.parquet")[0], dst)
        os.utime(dst, (1_700_000_000 + 100 * i,) * 2)
    return landing


def test_session_bucketed_matches_per_user(spark, tmp_path):
    """session_timeout_stream_bucketed emits exactly the per-user
    operator's session set across gap AND timer closure paths,
    including two users colliding in one bucket's dict state."""
    from pyblazing_spark.streaming import read_landing_stream
    from pyblazing_spark.streaming.ops import (
        run_available_now,
        session_timeout_stream,
        session_timeout_stream_bucketed,
    )

    landing = _three_batch_landing(spark, tmp_path)

    def drain(fn, **kw):
        return {
            (r.user_id, r.session_start.isoformat(), r.session_end.isoformat(),
             r.n_events, r.closed_by)
            for r in run_available_now(
                fn(read_landing_stream(spark, landing), **kw),
                output_mode="append",
            ).collect()
        }

    per_user = drain(session_timeout_stream)
    bucketed = drain(session_timeout_stream_bucketed, n_buckets=64)
    assert bucketed == per_user
    assert (1, "2024-01-02T10:00:00", "2024-01-02T10:10:00", 2, "gap") in bucketed
    assert (1, "2024-01-02T11:20:00", "2024-01-02T11:20:00", 1, "timer") in bucketed
    assert (65, "2024-01-02T10:05:00", "2024-01-02T10:05:00", 1, "timer") in bucketed
