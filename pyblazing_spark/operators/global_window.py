"""Scalable global (unpartitioned) window computations.

``Window.orderBy(...)`` with no partition key collapses to ONE task —
correct but serial (the reference hit the same wall and built overlap
kernels for it, SURVEY.md §2.1 #16-17). These helpers compute the two
most common global windows at full parallelism with the standard
two-phase trick:

1. bucket rows by a DETERMINISTIC range id derived from the data (a
   seeded driver-side sample picks boundary keys, shipped back as
   literals — a few KB). NOT ``repartitionByRange``: its boundary
   sampling re-randomizes on every re-evaluation, so the two plan
   branches that must agree on the bucket id (the per-row window and
   the per-bucket offsets) would disagree;
2. compute the window LOCALLY per bucket
   (``Window.partitionBy(bucket)``),
3. collect the tiny per-bucket aggregates (row counts / partial sums —
   bounded: one row per bucket) to the driver and fold each bucket's
   prefix offset into the plan as a LITERAL array lookup (r14: this
   replaced a second scan + 32-row window + broadcast hash join that
   every fact row probed — see :func:`_pid_offsets`).

Shuffle cost equals a plain ``orderBy``; the window itself never
serializes onto one executor. Results are identical to the
single-partition form (asserted in tests/test_global_window.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from pyblazing_spark.functions import array_lit, sql_literal


_EXACT_DOUBLE = 2**53  # largest contiguous int exactly representable


def _sample_boundaries(
    df: DataFrame, key0: str, partitions: int, sample_rows: int = 100_000
) -> list:
    """Exact-typed boundary values from a seeded Arrow-collected sample
    of the leading column — the fallback path for key types the
    quantile sketch cannot serve exactly (non-numeric keys, and
    integrals beyond 2^53 where the sketch's internal double storage
    would collapse adjacent keys — see ADVICE r5 #3 for why exactness
    matters there).

    The sample is collected with ``toArrow()`` (not ``toPandas()``):
    pandas coerces an int64 column containing NULLs to float64, which
    loses exactness above 2^53 — boundary literals could shift and skew
    the buckets (bucket-id CORRECTNESS is unaffected: boundaries are
    fixed literals applied uniformly). Arrow keeps nullable int64
    exact; NULL keys are additionally filtered Spark-side so they never
    occupy sample slots."""
    nonnull = df.select(key0).where(F.col(key0).isNotNull())
    tbl = nonnull.sample(fraction=0.05, seed=42).limit(sample_rows).toArrow()
    if tbl.num_rows == 0:  # tiny input where the 5% sample came back empty
        tbl = nonnull.limit(sample_rows).toArrow()
    sample = sorted(tbl.column(0).drop_null().to_pylist())
    if len(sample) < 2:
        return []
    step = max(1, len(sample) // partitions)
    boundaries: list = []
    for i in range(step, len(sample), step):
        if len(boundaries) >= partitions - 1:
            break
        if not boundaries or sample[i] != boundaries[-1]:
            boundaries.append(sample[i])
    return boundaries


def _sketch_boundaries(
    df: DataFrame, keys: list[str], partitions: int
) -> dict[str, list | None]:
    """Boundary values for every numeric leading key in ONE aggregation
    job (r15, guide §2.3/§5): ``percentile_approx`` runs with map-side
    partial aggregation and collects ~``partitions`` values per key,
    replacing the 100k-row Arrow sample collect + driver-side Python
    sort per key — and one job serves ALL keys of a fused multi-metric
    call. min/max ride the same job so integral keys whose range leaves
    the 2^53 double-exact window are sent to the exact sample fallback
    (``None`` in the result) instead of silently degrading: the sketch
    stores doubles internally, and collapsed adjacent boundaries would
    skew buckets (correctness is unaffected either way — boundaries are
    uniform literals — but bucket BALANCE is the whole point).

    Boundary determinism is only needed WITHIN one call (all plan
    branches read the same collected literals), which a single collect
    guarantees; cross-run sketch nondeterminism cannot change results
    because offsets are always exact per-bucket counts."""
    from pyspark.sql.types import (
        ByteType,
        DoubleType,
        FloatType,
        IntegerType,
        LongType,
        ShortType,
    )

    integral = (ByteType, ShortType, IntegerType, LongType)
    numeric = integral + (FloatType, DoubleType)
    out: dict[str, list | None] = {k: None for k in keys}
    if partitions < 2:
        return {k: [] for k in keys}
    sketchable = [
        k for k in dict.fromkeys(keys) if isinstance(df.schema[k].dataType, numeric)
    ]
    if not sketchable:
        return out
    qs = [i / partitions for i in range(1, partitions)]
    aggs = []
    for k in sketchable:
        aggs.append(F.percentile_approx(k, qs, 10_000).alias(f"__q_{k}"))
        aggs.append(F.min(k).alias(f"__lo_{k}"))
        aggs.append(F.max(k).alias(f"__hi_{k}"))
    row = df.agg(*aggs).collect()[0]
    for k in sketchable:
        lo, hi = row[f"__lo_{k}"], row[f"__hi_{k}"]
        if isinstance(df.schema[k].dataType, integral) and (
            lo is not None
            and hi is not None
            and max(abs(int(lo)), abs(int(hi))) >= _EXACT_DOUBLE
        ):
            continue  # exact sample fallback
        quants = row[f"__q_{k}"] or []
        boundaries: list = []
        for b in quants:
            if b is not None and (not boundaries or b != boundaries[-1]):
                boundaries.append(b)
        out[k] = boundaries[: partitions - 1]
    return out


def _pid_expr(df: DataFrame, key0: str, boundaries: list) -> Column:
    """Literal-comparison bucket id: how many boundaries the row's
    leading key exceeds, as ONE parsed SQL expression (building it from
    Column calls cost ~7 py4j calls per boundary, ~220 at 32
    partitions). Each boundary renders as a literal of the column's
    exact type (:func:`pyblazing_spark.functions.sql_literal` — e.g. a
    timestamp lands as TIMESTAMP_NTZ on a TIMESTAMP_NTZ column). NULL
    leading keys compare false against every boundary -> bucket 0,
    matching NULLS-FIRST ascending order; NaN doubles compare GREATER
    than every boundary in Spark SQL -> last bucket, matching
    NaN-sorts-last window order."""
    if not boundaries:
        return F.lit(0)
    key_type = df.schema[key0].dataType
    col = "`" + key0.replace("`", "``") + "`"
    return F.expr(
        " + ".join(
            f"CASE WHEN {col} > {sql_literal(b, key_type)} THEN 1 ELSE 0 END"
            for b in boundaries
        )
    )


def _range_bucket(
    df: DataFrame, order_cols: list[str], partitions: int, sample_rows: int = 100_000
) -> Column:
    """Deterministic range-bucket id for the ordering-key tuple.

    ONE bounded driver job picks ``partitions - 1`` boundary values for
    the FIRST ordering column (a ``percentile_approx`` sketch for
    numeric keys — see :func:`_sketch_boundaries`; an exact Arrow
    sample otherwise); the bucket id is how many boundaries the row's
    leading key exceeds. Bucketing on the leading column alone is
    sufficient for every two-phase consumer here: rows that tie on it
    land in one bucket, so a row in an earlier bucket is STRICTLY
    smaller on the leading column and therefore strictly precedes every
    later-bucket row in the full lexicographic order — the invariant
    the cross-bucket offsets rely on. Boundaries ship back as LITERALS,
    so every re-evaluation of every plan branch agrees (NOT
    ``repartitionByRange``: its boundary sampling re-randomizes per
    evaluation — SCALE.md §"_range_bucket sample scan").

    100 TB cost note: the sketch is a single-column aggregation with
    map-side partials — parquet column pruning makes it one column x
    all row groups per helper call, and the collect is ~``partitions``
    values (the old path collected up to 100k rows and sorted them on
    the driver). A genuinely sub-scan variant needs TABLESAMPLE
    pushdown Spark's parquet source does not expose."""
    key0 = order_cols[0]
    boundaries = _sketch_boundaries(df, [key0], partitions)[key0]
    if boundaries is None:
        boundaries = _sample_boundaries(df, key0, partitions, sample_rows)
    return _pid_expr(df, key0, boundaries)


def _pid_offsets(
    tagged: DataFrame, *aggs: Column
) -> list[tuple]:
    """Collect the per-bucket aggregates (count / sum) to the DRIVER and
    return ``[(pid, agg0, agg1, ...), ...]`` sorted by pid.

    Bounded by construction: one row per range bucket (≤ ``partitions``,
    default 32) — the same cost class as the boundary-literal sample.
    r14 optimization (guide §1.2 "don't compute things twice", §7.2
    duplicated subtrees): the previous shape kept the counts as a PLAN
    BRANCH — a second full scan + boundary-CASE evaluation + partial
    aggregation feeding a 32-row window and a broadcast hash join that
    every fact row then probed. Catalyst cannot share the exchange
    between the two branches (column pruning narrows the counts branch's
    exchange, and there is no ReusedExchange across a Window), so the
    branch always re-read the input. Collecting the ≤32-row aggregate
    once and folding the offsets into LITERALS removes the second
    window, the broadcast exchange, and the per-row join probe — the
    fact-side plan becomes exchange → sort → window → project.
    Cross-engine float note: offsets are accumulated in ascending pid
    order, exactly the order the old single-task unbounded-preceding
    window summed them in, so double results are bit-identical."""
    rows = tagged.groupBy("__pid").agg(*aggs).collect()
    return sorted((tuple(r) for r in rows), key=lambda t: t[0])


def _offset_lit(per_pid: dict[int, object], max_pid: int, dtype) -> Column:
    """Array literal ``offsets[pid + 1]`` lookup column of element type
    ``dtype`` (pids are dense 0..max_pid by construction; buckets with
    no rows never probe it) — one parsed expression, not one py4j call
    per element."""
    return array_lit([per_pid.get(p, 0) for p in range(max_pid + 1)], dtype)


def _sum_type(df: DataFrame, value: Column):
    """Spark dtype of ``sum(value)`` over ``df`` — schema-only, no job."""
    return df.select(F.sum(value)).schema[0].dataType


def global_row_number(
    df: DataFrame, order_cols: list[str], out_col: str = "rn", partitions: int = 32
) -> DataFrame:
    """Contiguous 1-based global row numbers in ``order_cols`` order.

    (``monotonically_increasing_id`` is NOT contiguous; a bare
    ``row_number().over(orderBy)`` is single-task. This is both.)"""
    tagged = df.withColumn("__pid", _range_bucket(df, order_cols, partitions))
    counts = _pid_offsets(tagged, F.count(F.lit(1)).alias("__n"))
    offs: dict[int, int] = {}
    acc = 0
    for pid, n in counts:
        offs[pid] = acc
        acc += n
    max_pid = counts[-1][0] if counts else 0
    local_w = W.partitionBy("__pid").orderBy(*order_cols)
    return (
        tagged.withColumn("__local_rn", F.row_number().over(local_w))
        .withColumn(
            out_col,
            (
                F.element_at(
                    _offset_lit(offs, max_pid, LongType()), F.col("__pid") + 1
                )
                + F.col("__local_rn")
            ).cast("long"),
        )
        .drop("__pid", "__local_rn")
    )


def global_running_sum(
    df: DataFrame,
    order_cols: list[str],
    value_col: str | Column,
    out_col: str = "running_sum",
    partitions: int = 32,
) -> DataFrame:
    """Global prefix sum of ``value_col`` in ``order_cols`` order —
    the unpartitioned ``sum().over(orderBy.rowsBetween(unbounded, 0))``
    without the single-task collapse."""
    value = F.col(value_col) if isinstance(value_col, str) else value_col
    tagged = df.withColumn("__pid", _range_bucket(df, order_cols, partitions))
    totals = _pid_offsets(tagged, F.sum(value).alias("__total"))
    # Accumulator dtype follows the SCHEMA (never the collected values,
    # which would make the output dtype data-dependent): integral sums
    # accumulate as exact Python ints so bigint running sums stay exact
    # above 2^53 and out_col keeps the input's bigint family (ADVICE
    # r14); float sums keep ascending-pid float accumulation, the exact
    # order the single-task window sums in, so doubles stay
    # bit-identical.
    sum_t = _sum_type(tagged, value)
    int_exact = isinstance(sum_t, LongType)
    offs: dict[int, object] = {}
    acc = 0 if int_exact else 0.0
    for pid, t in totals:
        offs[pid] = acc
        if t is not None:  # SQL window sum skips NULL totals too
            acc += t
    max_pid = totals[-1][0] if totals else 0
    local_w = W.partitionBy("__pid").orderBy(*order_cols).rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    off_lit = _offset_lit(offs, max_pid, sum_t)
    return (
        tagged.withColumn("__local_sum", F.sum(value).over(local_w))
        .withColumn(
            out_col,
            F.element_at(off_lit, F.col("__pid") + 1) + F.col("__local_sum"),
        )
        .drop("__pid", "__local_sum")
    )


def global_prefix_stats(
    df: DataFrame,
    order_cols: list[str],
    value_col: str | Column,
    rn_col: str = "rn",
    sum_col: str = "running_sum",
    partitions: int = 32,
) -> DataFrame:
    """Global row number AND global prefix sum in ONE two-phase pass.

    Fuses :func:`global_row_number` + :func:`global_running_sum`: one
    boundary sample, one bucket expression, one local window stage
    computing both functions over the same (bucket, order) spec, one
    per-bucket aggregate carrying (count, sum) together, one broadcast
    join. Composing the two single-function helpers instead would pay
    each of those twice — measured 3.3 s -> ~1.5 s at sf0.01 for the
    ``win_global_scaled`` entry, and at 100 TB it is one data pass
    instead of two."""
    value = F.col(value_col) if isinstance(value_col, str) else value_col
    tagged = df.withColumn("__pid", _range_bucket(df, order_cols, partitions))
    agg = _pid_offsets(
        tagged, F.count(F.lit(1)).alias("__n"), F.sum(value).alias("__t")
    )
    # schema-driven accumulator dtype — see global_running_sum
    sum_t = _sum_type(tagged, value)
    int_exact = isinstance(sum_t, LongType)
    noffs: dict[int, int] = {}
    toffs: dict[int, object] = {}
    nacc, tacc = 0, (0 if int_exact else 0.0)
    for pid, n, t in agg:
        noffs[pid], toffs[pid] = nacc, tacc
        nacc += n
        if t is not None:
            tacc += t
    max_pid = agg[-1][0] if agg else 0
    rank_w = W.partitionBy("__pid").orderBy(*order_cols)
    sum_w = rank_w.rowsBetween(W.unboundedPreceding, W.currentRow)
    local = tagged.withColumn("__lrn", F.row_number().over(rank_w)).withColumn(
        "__lsum", F.sum(value).over(sum_w)
    )
    t_lit = _offset_lit(toffs, max_pid, sum_t)
    return (
        local.withColumn(
            rn_col,
            (
                F.element_at(
                    _offset_lit(noffs, max_pid, LongType()), F.col("__pid") + 1
                )
                + F.col("__lrn")
            ).cast("long"),
        )
        .withColumn(
            sum_col,
            F.element_at(t_lit, F.col("__pid") + 1) + F.col("__lsum"),
        )
        .drop("__pid", "__lrn", "__lsum")
    )


def ranked_topk(df: DataFrame, k: int, *order, out_col: str = "rank") -> DataFrame:
    """Top-``k`` rows of the global ``order`` with a contiguous 1-based
    ``out_col`` rank (int).

    ``orderBy().limit(k)`` compiles to TakeOrderedAndProject
    (per-partition top-k, driver merge of k rows per partition), so the
    unpartitioned rank window only ever sees k rows. The pattern it
    replaces — ``row_number().over(W.orderBy(...))`` then
    ``where(rank <= k)`` — collapsed the ENTIRE input (vocab token
    stats, per-doc BM25/cosine scores: bounded but potentially
    millions of rows) onto one window task before throwing away all
    but k rows (r14 optimization; guide §2 top-k doctrine). ``order``
    must be a deterministic total order so limit and rank agree."""
    top = df.orderBy(*order).limit(k)
    return top.withColumn(
        out_col, F.row_number().over(W.orderBy(*order)).cast("int")
    )


def global_ntile(
    df: DataFrame,
    order_cols: list[str],
    n_buckets: int,
    out_col: str = "bucket",
    partitions: int = 32,
) -> DataFrame:
    """``ntile(n_buckets) OVER (ORDER BY order_cols)`` without the
    single-task collapse of an unpartitioned window — the single-metric
    case of :func:`global_ntile_multi` (see there for the machinery)."""
    return global_ntile_multi(df, [(order_cols, n_buckets, out_col)], partitions)


def global_ntile_multi(
    df: DataFrame,
    specs: list[tuple[list[str], int, str]],
    partitions: int = 32,
) -> DataFrame:
    """N independent global ntiles over the same frame — each spec is
    ``(order_cols, n_buckets, out_col)`` — with ONE boundary job and
    ONE counts job for ALL of them (r15, guide §1.2 "don't compute
    things twice" / §5 driver round-trips; VERDICT r14 #3).

    Per metric, the machinery is the two-phase global rank: a
    deterministic range-bucket id from boundary literals, a per-bucket
    local ``row_number`` window, literal prefix offsets, and the
    closed-form ntile split — with ``n`` rows, ``q = n div k`` and
    ``r = n mod k``, the first ``r`` buckets take ``q + 1`` rows and
    the rest ``q``:

        bucket(i) = (i - 1) div (q + 1) + 1                 if i <= (q+1)*r
                    r + (i - (q+1)*r - 1) div q + 1         otherwise

    exactly how ntile places remainders (verified against DuckDB/Spark
    ntile in the sort_zorder_cluster oracle and events_rfm).

    The fusion: one ``percentile_approx`` sketch job returns boundary
    literals for EVERY metric's leading key (:func:`_sketch_boundaries`),
    and one ``groupBy(pid_0, .., pid_{m-1}).count()`` collect (bounded:
    ≤ ``partitions^m`` rows, in practice the distinct combinations
    present) marginalizes driver-side into each metric's per-bucket
    counts. A chained-single-ntile caller instead pays m sample jobs +
    m counts jobs and re-executes its input per stage unless it
    materializes between every stage (events_rfm did exactly that
    before r15: 23 jobs for 3 quartiles). The data path stays one
    Window stage (exchange → sort → project) per metric in ONE linear
    plan — no intermediate driver materializations."""
    pid_cols = [f"__pid{i}" for i in range(len(specs))]
    lead_keys = [spec[0][0] for spec in specs]
    bmap = _sketch_boundaries(df, lead_keys, partitions)
    tagged = df
    for i, spec in enumerate(specs):
        key0 = spec[0][0]
        boundaries = bmap[key0]
        if boundaries is None:
            boundaries = _sample_boundaries(df, key0, partitions)
            bmap[key0] = boundaries  # a key shared by two specs samples once
        tagged = tagged.withColumn(pid_cols[i], _pid_expr(df, key0, boundaries))
    rows = tagged.groupBy(*pid_cols).agg(F.count(F.lit(1)).alias("__n")).collect()
    out = tagged
    for i, (order_cols, n_buckets, out_col) in enumerate(specs):
        per_pid: dict[int, int] = {}
        for row in rows:
            pid = row[pid_cols[i]]
            per_pid[pid] = per_pid.get(pid, 0) + row["__n"]
        offs: dict[int, int] = {}
        total = 0
        for pid in sorted(per_pid):
            offs[pid] = total
            total += per_pid[pid]
        max_pid = max(per_pid) if per_pid else 0
        k = int(n_buckets)
        q, r = total // k, total % k
        head = (q + 1) * r  # rows living in the (q+1)-sized buckets
        rank_col = f"__rank{i}"
        local_w = W.partitionBy(pid_cols[i]).orderBy(*order_cols)
        out = out.withColumn(
            rank_col,
            F.element_at(
                _offset_lit(offs, max_pid, LongType()), F.col(pid_cols[i]) + 1
            )
            + F.row_number().over(local_w),
        )
        bucket = F.when(
            F.col(rank_col) <= F.lit(head),
            F.expr(f"({rank_col} - 1) div {q + 1} + 1"),
        ).otherwise(
            # q = 0 implies every row ranks <= head = n, so the lazy CASE
            # never divides by zero — max(q, 1) keeps the printed plan
            # well-formed anyway.
            F.lit(r)
            + F.expr(f"({rank_col} - {(q + 1) * r} - 1) div {max(q, 1)} + 1")
        )
        out = out.withColumn(out_col, bucket.cast("int")).drop(rank_col)
    return out.drop(*pid_cols)
