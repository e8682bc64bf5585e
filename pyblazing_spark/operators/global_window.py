"""Scalable global (unpartitioned) window computations.

``Window.orderBy(...)`` with no partition key collapses to ONE task —
correct but serial (the reference hit the same wall and built overlap
kernels for it, SURVEY.md §2.1 #16-17). Every global window here runs
one two-phase kernel (:func:`_two_phase`) at full parallelism:

1. bucket rows by a DETERMINISTIC range id on the leading order key:
   one bounded driver job picks boundary values, which come back as
   literals, so every evaluation of the plan agrees on the bucket id
   (``repartitionByRange`` re-samples its boundaries per evaluation);
2. collect one aggregate row per bucket (its row count plus the
   caller's aggregates) and fold each bucket's EXCLUSIVE prefix over
   the earlier buckets into an array literal (:func:`_prefix`);
3. compute the window locally per bucket (``Window.partitionBy(bucket)``)
   and combine it with the bucket's prefix.

Rows that tie on the leading key share a bucket, so every row of an
earlier bucket strictly precedes every row of a later one in the full
lexicographic order — the invariant the prefixes rely on. The data path
is exchange → sort → window → project, the shuffle cost of a plain
``orderBy``; results equal the single-partition window (asserted in
tests/test_global_window.py).
"""

from __future__ import annotations

import operator

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ByteType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
)

from pyblazing_spark.functions import array_lit, sql_literal

#: Range buckets per global window.
_PARTITIONS = 32
#: Rows in the exact boundary sample (keys the sketch cannot serve).
_SAMPLE_ROWS = 100_000

_EXACT_DOUBLE = 2**53  # largest contiguous int exactly representable
_INTEGRAL = (ByteType, ShortType, IntegerType, LongType)
_NUMERIC = _INTEGRAL + (FloatType, DoubleType)


def _sample_boundaries(df: DataFrame, key: str) -> list:
    """Exact-typed boundary values from a seeded Arrow-collected sample
    of ``key``: the path for keys the quantile sketch cannot serve
    exactly (non-numeric keys, and integrals beyond 2^53, where the
    sketch's internal doubles would collapse adjacent keys and skew the
    buckets). ``toArrow()`` keeps nullable int64 exact where
    ``toPandas()`` would coerce it to float64; NULL keys are filtered
    Spark-side so they never occupy sample slots."""
    nonnull = df.select(key).where(F.col(key).isNotNull())
    tbl = nonnull.sample(fraction=0.05, seed=42).limit(_SAMPLE_ROWS).toArrow()
    if tbl.num_rows == 0:  # tiny input where the 5% sample came back empty
        tbl = nonnull.limit(_SAMPLE_ROWS).toArrow()
    sample = sorted(tbl.column(0).drop_null().to_pylist())
    step = max(1, len(sample) // _PARTITIONS)
    return _distinct_run(sample[step::step])


def _distinct_run(values: list) -> list:
    """``values`` without NULLs and adjacent repeats, cut to
    ``_PARTITIONS - 1`` boundaries."""
    out: list = []
    for v in values:
        if v is not None and (not out or v != out[-1]):
            out.append(v)
    return out[: _PARTITIONS - 1]


def _boundaries(df: DataFrame, keys: list[str]) -> dict[str, list]:
    """Ascending range-bucket boundaries for every key in ``keys``.

    All numeric keys share ONE aggregation job: ``percentile_approx``
    runs with map-side partials and returns ~``_PARTITIONS`` values per
    key. min/max ride the same job, so an integral key whose range
    leaves the 2^53 double-exact window takes the exact sample instead,
    as do non-numeric keys (:func:`_sample_boundaries`). Boundaries only
    need to agree within one call, which the single collect guarantees;
    results never depend on them, because prefixes are exact per-bucket
    aggregates."""
    keys = list(dict.fromkeys(keys))
    out: dict[str, list] = {}
    sketch = [k for k in keys if isinstance(df.schema[k].dataType, _NUMERIC)]
    if sketch:
        qs = [i / _PARTITIONS for i in range(1, _PARTITIONS)]
        row = df.agg(
            *(
                agg
                for k in sketch
                for agg in (F.percentile_approx(k, qs, 10_000), F.min(k), F.max(k))
            )
        ).collect()[0]
        for i, k in enumerate(sketch):
            quants, lo, hi = row[3 * i : 3 * i + 3]
            if (
                isinstance(df.schema[k].dataType, _INTEGRAL)
                and lo is not None
                and max(abs(lo), abs(hi)) >= _EXACT_DOUBLE
            ):
                continue
            out[k] = _distinct_run(quants or [])
    for k in keys:
        if k not in out:
            out[k] = _sample_boundaries(df, k)
    return out


def _pid_expr(df: DataFrame, key: str, boundaries: list) -> Column:
    """Bucket id = how many boundaries the row's ``key`` exceeds, as ONE
    parsed SQL expression of literals of the key's exact type
    (:func:`pyblazing_spark.functions.sql_literal`). NULL keys compare
    false against every boundary -> bucket 0, matching NULLS-FIRST
    ascending order; NaN doubles compare greater than every boundary ->
    last bucket, matching NaN-sorts-last window order."""
    if not boundaries:
        return F.lit(0)
    key_type = df.schema[key].dataType
    col = "`" + key.replace("`", "``") + "`"
    return F.expr(
        " + ".join(
            f"CASE WHEN {col} > {sql_literal(b, key_type)} THEN 1 ELSE 0 END"
            for b in boundaries
        )
    )


def _two_phase(
    df: DataFrame, lead_keys: list[str], *aggs: Column
) -> tuple[DataFrame, list[str], list[tuple]]:
    """Tag ``df`` with one range-bucket id column per leading key and
    collect ``groupBy(ids).agg(count, *aggs)`` to the driver.

    Returns the tagged frame, the id column names and the rows as tuples
    ``(pid_0, .., pid_{m-1}, count, agg_0, ..)``. Two driver jobs for any
    number of keys: the boundary job and this collect, which is bounded
    by the bucket combinations present (one row per bucket for one key)."""
    bounds = _boundaries(df, lead_keys)
    pids = [f"__pid{i}" for i in range(len(lead_keys))]
    tagged = df.withColumns(
        {p: _pid_expr(df, k, bounds[k]) for p, k in zip(pids, lead_keys)}
    )
    rows = tagged.groupBy(*pids).agg(F.count(F.lit(1)), *aggs).collect()
    return tagged, pids, [tuple(r) for r in rows]


def _prefix(
    rows: list[tuple], i: int, j: int, fold, start, dtype, pid: str
) -> Column:
    """Per row, ``start`` folded with field ``j`` of every collected row
    whose bucket (field ``i``) precedes the row's bucket ``pid``: one
    array literal indexed by the bucket id.

    NULL fields are skipped, as SQL aggregates skip them. Buckets fold in
    ascending order, the order a single-task window accumulates in, so
    double sums stay bit-identical to it; rows of one bucket (several
    bucket-id combinations under :func:`global_ntile`) fold first."""
    per: dict[int, object] = {}
    for r in rows:
        if r[j] is not None:
            per[r[i]] = r[j] if r[i] not in per else fold(per[r[i]], r[j])
    offsets, acc = [], start
    for p in range(max((r[i] for r in rows), default=0) + 1):
        offsets.append(acc)
        if p in per:
            acc = per[p] if acc is None else fold(acc, per[p])
    return F.element_at(array_lit(offsets, dtype), F.col(pid) + 1)


def _greatest(a, b):
    """Spark's max of two non-NULL values: NaN is greater than all."""
    return a if a != a or (b == b and a >= b) else b


def global_prefix_stats(
    df: DataFrame,
    order_cols: list,
    value: str | None = None,
    rn_col: str = "rn",
    sum_col: str = "running_sum",
) -> DataFrame:
    """Contiguous 1-based global row number ``rn_col`` in ``order_cols``
    order and, when ``value`` is given, the global running sum
    ``sum_col`` of that column: ``row_number()`` and
    ``sum(value).over(orderBy.rowsBetween(unbounded, 0))`` without the
    single-task collapse. ``order_cols[0]`` names the bucketing column.

    One boundary job and one per-bucket (count, sum) collect; one local
    window computes both functions. Integral sums fold as exact Python
    ints, so bigint running sums stay exact above 2^53; the output type
    is ``sum(value)``'s, read from the schema, never from the data."""
    tagged, (pid,), rows = _two_phase(
        df, [order_cols[0]], *([] if value is None else [F.sum(value)])
    )
    rank_w = W.partitionBy(pid).orderBy(*order_cols)
    out = {
        rn_col: (
            _prefix(rows, 0, 1, operator.add, 0, LongType(), pid)
            + F.row_number().over(rank_w)
        ).cast("long")
    }
    if value is not None:
        sum_t = tagged.select(F.sum(value)).schema[0].dataType
        out[sum_col] = _prefix(rows, 0, 2, operator.add, 0, sum_t, pid) + F.sum(
            value
        ).over(rank_w.rowsBetween(W.unboundedPreceding, W.currentRow))
    return tagged.withColumns(out).drop(pid)


def global_prefix_max(
    df: DataFrame, order_cols: list, value: str, out_col: str
) -> DataFrame:
    """``out_col`` = the maximum of ``value`` over every row strictly
    before this one in ``order_cols`` order (NULL for the first row):
    ``max(value).over(orderBy.rowsBetween(unbounded, -1))`` without the
    single-task collapse. ``order_cols[0]`` names the bucketing column."""
    tagged, (pid,), rows = _two_phase(df, [order_cols[0]], F.max(value))
    local_w = (
        W.partitionBy(pid)
        .orderBy(*order_cols)
        .rowsBetween(W.unboundedPreceding, -1)
    )
    earlier = _prefix(rows, 0, 2, _greatest, None, df.schema[value].dataType, pid)
    # greatest() skips NULLs: a bucket's first row has no local max
    return tagged.withColumn(
        out_col, F.greatest(F.max(value).over(local_w), earlier)
    ).drop(pid)


def global_ntile(
    df: DataFrame, specs: list[tuple[list, int, str]]
) -> DataFrame:
    """``ntile(k) OVER (ORDER BY order_cols)`` as column ``out_col`` for
    every spec ``(order_cols, k, out_col)``, without the single-task
    collapse; ``order_cols[0]`` names the bucketing column.

    All specs share one boundary job and one counts collect
    (:func:`_two_phase`), marginalized per spec on the driver; the data
    path is one Window stage per spec in one linear plan. Each row's
    global rank is its bucket's prefix count plus its local
    ``row_number``, and with ``n`` rows, ``q = n div k`` and
    ``r = n mod k`` the first ``r`` tiles take ``q + 1`` rows:

        tile(i) = (i - 1) div (q + 1) + 1                 if i <= (q+1)*r
                  r + (i - (q+1)*r - 1) div q + 1         otherwise

    exactly how ntile places remainders."""
    tagged, pids, rows = _two_phase(df, [spec[0][0] for spec in specs])
    m = len(specs)
    total = sum(r[m] for r in rows)
    ranks, tiles = {}, {}
    for i, (order_cols, k, out_col) in enumerate(specs):
        rank = f"__rank{i}"
        ranks[rank] = _prefix(
            rows, i, m, operator.add, 0, LongType(), pids[i]
        ) + F.row_number().over(W.partitionBy(pids[i]).orderBy(*order_cols))
        q, r = divmod(total, k)
        head = (q + 1) * r  # rows living in the (q+1)-sized tiles
        # q = 0 implies every rank is <= head = n, so the lazy CASE never
        # divides by zero; max(q, 1) keeps the expression well-formed.
        tiles[out_col] = F.expr(
            f"CAST(CASE WHEN {rank} <= {head} THEN ({rank} - 1) div {q + 1} + 1"
            f" ELSE {r} + ({rank} - {head} - 1) div {max(q, 1)} + 1 END AS INT)"
        )
    return tagged.withColumns(ranks).withColumns(tiles).drop(*ranks, *pids)


def ranked_topk(df: DataFrame, k: int, *order, out_col: str = "rank") -> DataFrame:
    """Top-``k`` rows of the global ``order`` with a contiguous 1-based
    ``out_col`` rank (int).

    ``orderBy().limit(k)`` compiles to TakeOrderedAndProject
    (per-partition top-k, driver merge of k rows per partition), so the
    unpartitioned rank window only ever sees k rows, where
    ``row_number().over(W.orderBy(...))`` then ``where(rank <= k)``
    would collapse the ENTIRE input onto one window task before throwing
    away all but k rows. ``order`` must be a deterministic total order
    so limit and rank agree."""
    top = df.orderBy(*order).limit(k)
    return top.withColumn(
        out_col, F.row_number().over(W.orderBy(*order)).cast("int")
    )
