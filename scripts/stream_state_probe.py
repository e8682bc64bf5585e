"""Streaming throughput / state-growth probe (VERDICT r10 #6).

The 13 stream_* entries prove CORRECTNESS on small deterministic
batches; this probe is the eviction-works-at-volume evidence: a
sustained synthetic stream (12 landing files x 100k events, event time
advancing one hour per batch) drained through the three stateful
shapes, recording the engine's own per-micro-batch accounting
(``StreamingQueryProgress``): rows/s and state-store rows. The
assertion is the one that matters at 100 TB/day: once the watermark
advances past the horizon, **state rows PLATEAU** (late batches evict
as much as they admit) instead of tracking cumulative input.

Probed shapes:
- ``interval_join_streams(how='leftOuter')`` — two-sided stream-stream
  join state (both sides buffered inside the watermark horizon);
- ``dedup_stream`` — ``dropDuplicatesWithinWatermark`` key state;
- ``session_timeout_stream`` — ``applyInPandasWithState`` sessions +
  event-time timers.

Usage: python scripts/stream_state_probe.py [rows_per_batch] [batches]
"""

from __future__ import annotations

import glob
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from pyblazing_spark.session import get_spark


def build_landing(spark, base: str, rows: int, batches: int) -> str:
    landing = os.path.join(base, "landing")
    os.makedirs(landing)
    for b in range(batches):
        tmp = os.path.join(base, f"b{b}")
        (
            spark.range(rows)
            .select(
                (F.lit(b) * rows + F.col("id")).alias("event_id"),
                # batch b covers hour b; seconds spread uniformly
                # (1709251200 = 2024-03-01 00:00:00 UTC)
                F.timestamp_seconds(
                    F.lit(1_709_251_200 + b * 3600) + F.col("id") % 3600
                ).alias("ts"),
                (F.col("id") % 50_000).alias("user_id"),
                F.when((F.col("id") % 5) < 2, F.lit("view"))
                .when((F.col("id") % 5) < 4, F.lit("purchase"))
                .otherwise(F.lit("click"))
                .alias("event_type"),
                ((F.col("id") % 997) * 0.01).alias("value"),
                F.lit("{}").alias("props"),
            )
            .coalesce(1)
            .write.parquet(tmp)
        )
        dst = os.path.join(landing, f"batch-{b:03d}.parquet")
        shutil.copyfile(glob.glob(f"{tmp}/part-*.parquet")[0], dst)
        os.utime(dst, (1_700_000_000 + 100 * b,) * 2)
        shutil.rmtree(tmp, ignore_errors=True)
    return landing


def drain(spark, landing: str, shape: str):
    from pyblazing_spark.streaming.ops import (
        dedup_stream,
        interval_join_streams,
        read_landing_stream,
        run_available_now,
        session_timeout_stream,
        session_timeout_stream_bucketed,
    )

    stream = read_landing_stream(spark, landing)
    if shape == "interval_join_leftouter":
        df = interval_join_streams(stream, how="leftOuter")
    elif shape == "dedup":
        df = dedup_stream(stream)
    elif shape == "session_timers":
        df = session_timeout_stream(stream, gap_minutes=30, watermark="1 hour")
    elif shape == "session_timers_bucketed":
        df = session_timeout_stream_bucketed(
            stream, gap_minutes=30, watermark="1 hour", n_buckets=32
        )
    else:
        raise ValueError(shape)
    prog: list = []
    t0 = time.time()
    out = run_available_now(df, output_mode="append", progress_out=prog,
                            timeout_sec=900)
    n_out = out.count()
    dt = time.time() - t0
    return prog, n_out, dt


def main() -> int:
    rows = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    batches = int(sys.argv[2]) if len(sys.argv) > 2 else 12
    spark = get_spark(app_name="stream_state_probe")
    spark.sparkContext.setLogLevel("ERROR")
    base = tempfile.mkdtemp(prefix="stream_state_")
    rc = 0
    try:
        landing = build_landing(spark, base, rows, batches)
        total = rows * batches
        shapes = ("interval_join_leftouter", "dedup", "session_timers",
                  "session_timers_bucketed")
        if os.environ.get("STREAM_PROBE_SHAPES"):
            shapes = tuple(os.environ["STREAM_PROBE_SHAPES"].split(","))
        for shape in shapes:
            prog, n_out, dt = drain(spark, landing, shape)
            state_rows = []
            rates = []
            for p in prog:
                if p.get("numInputRows", 0) == 0:
                    continue
                ops = p.get("stateOperators") or []
                state_rows.append(sum(o.get("numRowsTotal", 0) for o in ops))
                rates.append(p.get("processedRowsPerSecond", 0.0))
            peak = max(state_rows)
            final = state_rows[-1]
            # plateau: once the watermark advances (first third of the
            # drain), admissions and evictions balance — the final
            # batch's state must sit at/below the warm peak, and far
            # below cumulative input
            warm_peak = max(state_rows[: max(3, len(state_rows) // 2)])
            plateaued = final <= warm_peak * 1.25 and final < total * 0.5
            if not plateaued:
                rc = 1
            print(
                f"{shape:26s} out={n_out:>9,} drain={dt:5.1f}s "
                f"median_rate={sorted(rates)[len(rates)//2]:>10,.0f} rows/s "
                f"state/batch={state_rows} "
                f"peak={peak:,} final={final:,} "
                f"{'PLATEAU' if plateaued else 'GROWING — EVICTION FAILED'}"
            )
        print(f"total input per shape: {total:,} rows x 3 shapes; rc={rc}")
        return rc
    finally:
        shutil.rmtree(base, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
