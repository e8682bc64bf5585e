"""Two-phase global windows must be bit-identical to the
single-partition Window.orderBy forms while actually running on many
partitions."""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from pyblazing_spark.operators import global_window as GW
from pyblazing_spark.sources.tables import load_table


def test_global_row_number_matches_single_partition(spark, sf_dir, monkeypatch):
    monkeypatch.setattr(GW, "_PARTITIONS", 8)
    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "value")
    got = {
        r.event_id: r.rn
        for r in GW.global_prefix_stats(ev, ["ts", "event_id"]).collect()
    }
    exp = {
        r.event_id: r.rn
        for r in ev.withColumn(
            "rn", F.row_number().over(W.orderBy("ts", "event_id"))
        ).collect()
    }
    assert got == exp
    # numbering is contiguous 1..n
    assert sorted(got.values()) == list(range(1, len(got) + 1))


def test_global_row_number_window_is_partitioned(spark, sf_dir, monkeypatch):
    """The heavy per-row window must be keyed on the range-partition id
    (never an empty partition spec, which would serialize onto one task
    — AQE may still coalesce tiny test data, so assert on the plan)."""
    import io
    from contextlib import redirect_stdout

    monkeypatch.setattr(GW, "_PARTITIONS", 8)
    ev = load_table(spark, sf_dir, "events")
    out = GW.global_prefix_stats(ev, ["ts", "event_id"])
    buf = io.StringIO()
    with redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "__pid" in plan
    # every row_number window spec carries the partition key
    for line in [ln for ln in plan.splitlines() if "row_number()" in ln]:
        assert "__pid" in line, line


def test_global_running_sum_matches_single_partition(spark, sf_dir, monkeypatch):
    monkeypatch.setattr(GW, "_PARTITIONS", 8)
    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "value")
    got = {
        r.event_id: round(r.running_sum, 6)
        for r in GW.global_prefix_stats(ev, ["ts", "event_id"], "value").collect()
    }
    exp_w = W.orderBy("ts", "event_id").rowsBetween(W.unboundedPreceding, W.currentRow)
    exp = {
        r.event_id: round(r.running_sum, 6)
        for r in ev.withColumn("running_sum", F.sum("value").over(exp_w)).collect()
    }
    assert set(got) == set(exp)
    for k in got:
        assert abs(got[k] - exp[k]) < 1e-4, k


def test_global_ntile_matches_single_partition(spark, sf_dir, monkeypatch):
    """global_ntile must reproduce ntile's exact remainder split (the
    first n-mod-k buckets take one extra row) for awkward sizes: k does
    not divide n, n < k, and n == k."""
    monkeypatch.setattr(GW, "_PARTITIONS", 8)
    ev = load_table(spark, sf_dir, "events").select("event_id", "ts")
    for k, limit in ((7, None), (16, 10), (5, 5)):
        sub = ev if limit is None else ev.orderBy("event_id").limit(limit)
        got = {
            r.event_id: r.bucket
            for r in GW.global_ntile(sub, [(["ts", "event_id"], k, "bucket")]).collect()
        }
        exp = {
            r.event_id: r.b
            for r in sub.withColumn(
                "b", F.ntile(k).over(W.orderBy("ts", "event_id"))
            ).collect()
        }
        assert got == exp, f"k={k} limit={limit}"


def test_global_two_phase_property(spark, monkeypatch):
    """Property check over adversarial key distributions — duplicates,
    negatives, all-equal runs, sizes around the partition count — the
    exact shapes that stress deterministic boundary sampling: every
    two-phase helper must equal its serial single-window form."""
    import random

    rnd = random.Random(42)
    for trial in range(6):
        n = rnd.choice([1, 2, 7, 33, 64])
        # heavy duplication: keys drawn from a tiny domain half the time
        dom = rnd.choice([2, 3, 1000])
        rows = [
            (i, rnd.randrange(-dom, dom), rnd.uniform(-5, 5))
            for i in range(n)
        ]
        df = spark.createDataFrame(rows, "id long, k long, v double")
        parts = rnd.choice([2, 5, 32])
        monkeypatch.setattr(GW, "_PARTITIONS", parts)
        order = ["k", "id"]

        serial_rn = {
            r.id: r.rn
            for r in df.withColumn(
                "rn", F.row_number().over(W.orderBy(*order))
            ).collect()
        }
        got_rn = {
            r.id: r.rn
            for r in GW.global_prefix_stats(df, order).collect()
        }
        assert got_rn == serial_rn, f"rn trial={trial} n={n} parts={parts}"

        k = rnd.choice([1, 3, 16])
        serial_nt = {
            r.id: r.b
            for r in df.withColumn("b", F.ntile(k).over(W.orderBy(*order))).collect()
        }
        got_nt = {
            r.id: r.bucket
            for r in GW.global_ntile(df, [(order, k, "bucket")]).collect()
        }
        assert got_nt == serial_nt, f"ntile trial={trial} n={n} k={k}"

        serial_sum = {
            r.id: round(r.s, 6)
            for r in df.withColumn(
                "s",
                F.sum("v").over(
                    W.orderBy(*order).rowsBetween(W.unboundedPreceding, W.currentRow)
                ),
            ).collect()
        }
        got_sum = {
            r.id: round(r.running_sum, 6)
            for r in GW.global_prefix_stats(df, order, "v").collect()
        }
        assert got_sum == serial_sum, f"sum trial={trial}"

    # Every key type the boundary-literal renderer handles. The values
    # are multiples of 0.25, so double running sums are exact in any
    # summation order and the float offsets must match bit for bit.
    import datetime as dt
    from decimal import Decimal

    from pyblazing_spark.session import local_frame

    monkeypatch.setattr(GW, "_PARTITIONS", 8)
    t0 = dt.datetime(2021, 3, 4, 5, 6, 7, 891011)
    domains = {
        "string": ["it's", "back\\slash", "naïve", "日本語", "", "a'\\'b", "z"],
        "date": [dt.date(1969, 12, 31) + dt.timedelta(days=d) for d in (0, 1, 59, 400, 9000)],
        "timestamp_ntz": [t0 + dt.timedelta(microseconds=u) for u in (-1, 0, 1, 10**9, 10**12)],
        "decimal(12,2)": [Decimal(x) for x in ("-9999999999.99", "-0.01", "0.00", "0.01", "123.45")],
        "double": [float("nan"), -0.0, 0.0, -1.5, 2.25, 1e300, -float("inf")],
        "bigint": [2**53 + 1, 2**60 + 1, -(2**62), 2**63 - 1, None],
    }
    for ktype, dom in domains.items():
        rows = [(i, rnd.choice(dom), rnd.randrange(-8, 8) / 4) for i in range(400)]
        df = local_frame(spark, rows, f"id long, k {ktype}, v double").repartition(4)
        order = ["k", "id"]
        pid = GW._pid_expr(df, "k", GW._boundaries(df, ["k"])["k"])
        assert df.select(pid.alias("p")).distinct().count() > 1, ktype

        serial = df.select(
            "id",
            F.row_number().over(W.orderBy(*order)).alias("rn"),
            F.ntile(6).over(W.orderBy(*order)).alias("b"),
            F.sum("v")
            .over(W.orderBy(*order).rowsBetween(W.unboundedPreceding, W.currentRow))
            .alias("s"),
        )
        exp = {r.id: (r.rn, r.b, r.s) for r in serial.collect()}
        got_rn, got_sum = {}, {}
        for r in GW.global_prefix_stats(df, order, "v").collect():
            got_rn[r.id], got_sum[r.id] = r.rn, r.running_sum
        got_nt = {
            r.id: r.bucket
            for r in GW.global_ntile(df, [(order, 6, "bucket")]).collect()
        }
        assert got_rn == {i: e[0] for i, e in exp.items()}, f"rn {ktype}"
        assert got_nt == {i: e[1] for i, e in exp.items()}, f"ntile {ktype}"
        assert got_sum == {i: e[2] for i, e in exp.items()}, f"sum {ktype}"


def test_ranked_topk_matches_full_window(spark):
    """ranked_topk (orderBy.limit -> TakeOrderedAndProject + k-row rank
    window) must equal the row_number-then-filter pattern it replaced,
    for a deterministic total order with heavy ties on the lead key."""
    rows = [(i, (i * 7) % 5, float((i * 13) % 11)) for i in range(200)]
    df = spark.createDataFrame(rows, "id long, grp long, score double")
    order = [F.desc("score"), F.col("id")]
    for k in (1, 5, 20, 300):  # incl. k > n
        exp = {
            (r.id, r.rank)
            for r in df.withColumn(
                "rank", F.row_number().over(W.orderBy(F.desc("score"), "id")).cast("int")
            )
            .where(F.col("rank") <= k)
            .collect()
        }
        got = {(r.id, r.rank) for r in GW.ranked_topk(df, k, *order).collect()}
        assert got == exp, f"k={k}"


def test_ranked_topk_plans_as_take_ordered(spark):
    """The pre-rank cut must compile to TakeOrderedAndProject (per-
    partition top-k), never a full-input single-task window."""
    df = spark.range(1000).select(
        F.col("id"), (F.col("id") % 17).alias("score")
    )
    out = GW.ranked_topk(df, 10, F.desc("score"), F.col("id"))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan


def test_range_bucket_huge_int64_with_nulls(spark, monkeypatch):
    """Boundary sampling must keep int64 keys EXACT when NULLs are
    present (ADVICE r5 #3: toPandas coerced nullable int64 to float64,
    losing precision above 2^53 and shifting boundary literals). The
    Arrow path keeps adjacent huge keys distinct, so the global row
    number still matches the serial window exactly."""
    monkeypatch.setattr(GW, "_PARTITIONS", 8)
    base = 2**60
    rows = [(i, base + i if i % 7 else None) for i in range(400)]
    df = spark.createDataFrame(rows, "id bigint, k bigint").repartition(8)
    serial = {
        r.id: r.rn
        for r in df.withColumn(
            "rn", F.row_number().over(W.orderBy("k", "id"))
        ).collect()
    }
    got = {
        r.id: r.rn
        for r in GW.global_prefix_stats(df, ["k", "id"]).collect()
    }
    assert got == serial
    # and the boundary literals themselves are exact integers > 2^53
    pid = GW._pid_expr(df, "k", GW._boundaries(df, ["k"])["k"])
    n_buckets = df.select(pid.alias("p")).distinct().count()
    assert n_buckets > 1  # sampling produced real, distinct boundaries


def test_cross_bucket_prefixes_live_in_one_module():
    """Guard: how earlier buckets' totals reach a row is decided once,
    in operators/global_window.py. Any other module importing its
    private helpers or building a ``__pid`` column of its own would make
    that decision a second time."""
    import ast
    import pathlib

    import pyblazing_spark

    pkg = pathlib.Path(pyblazing_spark.__file__).parent
    repo = pkg.parent
    hits = []
    for path in sorted([*pkg.rglob("*.py"), *(repo / "scripts").glob("*.py")]):
        if path == pkg / "operators" / "global_window.py":
            continue
        src = path.read_text()
        where = path.relative_to(repo)
        for node in ast.walk(ast.parse(src)):
            if isinstance(node, ast.ImportFrom) and (node.module or "").endswith(
                "global_window"
            ):
                hits += [f"{where}: {a.name}" for a in node.names if a.name.startswith("_")]
            elif (
                isinstance(node, ast.Attribute)
                and node.attr.startswith("_")
                and ast.unparse(node.value).endswith("global_window")
            ):
                hits.append(f"{where}: {ast.unparse(node)}")
        hits += [f"{where}: {line.strip()}" for line in src.splitlines() if "__pid" in line]
    assert not hits, hits
