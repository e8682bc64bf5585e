"""Zipf-skew corpus probe (VERDICT r9 #3): the 10x/100x probes
replicate UNIFORMLY — real corpora are heavy-tailed. This script
derives a ~10x corpus where the replication multiplicity itself is
Zipf(s=1.2) distributed:

- ``events``: per-USER multiplicity — the head user carries thousands
  of copies of each of their events (one mega-user ≈ hot join key,
  giant sessionization group, hot distinct-count key);
- ``documents``: per-DOC multiplicity — the head document gets
  thousands of verbatim copies (one giant near-dup cluster = the
  degenerate LSH bucket and the giant connected component).

Every other table is copied once (dims stay dimension-sized). The
skew-sensitive entries then run on BOTH this corpus and the uniform
10x probe at equal volume, same session, so super-linear behavior
under REAL skew (vs the uniform corpus that the star-cap/salting
fixes were measured on) has nowhere to hide. Oracles run over the
same parquet (DuckDB value-compare) except entries whose unrolled
iterative oracles dominate wall-clock (timing + row-count there).

Also probes AQE's own skew handling on the raw (unsalted) hot-key
join: broadcast disabled, ``spark.sql.adaptive.skewJoin`` on — the
executed plan must show the SMJ marked ``skew=true`` on the Zipf
corpus, proving the runtime re-plan actually fires on real skew (the
salted_join operator is the always-on alternative that never needs
the optimizer to notice).

Usage: python scripts/zipf_probe.py [K] [zipf_dir] [uniform_dir]
(host-sized session; set a larger heap for K >= 10 on a small host
with ``PYSPARK_SUBMIT_ARGS="--driver-memory 16g pyspark-shell"``)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import hashlib

import numpy as np


def _dhash(v) -> str:
    """Deterministic rank key (Python's hash() is per-process salted)."""
    return hashlib.md5(str(v).encode()).hexdigest()


S = 1.2  # Zipf exponent
E_OFF = 100_000_000  # event_id replica offset
D_OFF = 10_000_000  # doc_id replica offset

COPY_ONCE = (
    "region", "nation", "supplier", "part", "customer", "orders",
    "lineitem", "embeddings",
)

#: entries x oracle mode ("oracle" = DuckDB value compare, "rows" =
#: timing + row count; components' unrolled iterative oracle dominates
#: wall-clock at 10x, certified at sf0.01/0.1)
ENTRIES: list[tuple[str, str]] = [
    ("join_salted_skew", "oracle"),
    ("agg_two_phase_skew", "oracle"),
    ("events_sessionize", "oracle"),
    # minhash: SQL oracle only on the UNIFORM corpus — the straight
    # all-pairs LSH SQL is O(head_mult^2) per bucket (54M pairs/band at
    # head_mult=10444; killed at 105 GB RSS), which is EXACTLY the
    # quadratic cliff the Spark side's star cap avoids. On zipf the
    # probe instead asserts the analytic contract (see _zipf_dedup_check).
    ("dedup_minhash_lsh", "oracle-uniform-only"),
    ("dedup_components_star", "rows"),
    ("pipeline_dedup_e2e", "oracle-uniform-only"),
]


def _solve_c(weights: np.ndarray, target: float) -> float:
    """Find C so that sum(w_i * max(1, C / rank_i^S)) ~= target, ranks
    being the 1-based positions of ``weights`` (already rank-ordered)."""
    ranks = np.arange(1, len(weights) + 1, dtype=np.float64) ** S
    lo, hi = 1.0, float(target)
    for _ in range(60):
        mid = (lo + hi) / 2
        tot = float((weights * np.maximum(1.0, mid / ranks)).sum())
        if tot < target:
            lo = mid
        else:
            hi = mid
    return (lo + hi) / 2


def build_zipf(spark, src_dir: str, out_dir: str, k: int) -> dict:
    from pyspark.sql import functions as F

    from pyblazing_spark.session import local_frame
    from pyblazing_spark.sources.tables import load_table

    os.makedirs(out_dir, exist_ok=True)
    for name in COPY_ONCE:
        load_table(spark, src_dir, name).write.mode("overwrite").parquet(
            f"{out_dir}/{name}.parquet"
        )
    info: dict = {}

    # ---- events: per-user Zipf multiplicity ---------------------------
    ev = load_table(spark, src_dir, "events")
    per_user = ev.groupBy("user_id").count().collect()  # bounded: users
    # pseudo-random rank: hash order, not activity order (heavy users
    # are arbitrary in real corpora)
    users = sorted(per_user, key=lambda r: (_dhash(("u", r.user_id)), r.user_id))
    counts = np.array([r["count"] for r in users], dtype=np.float64)
    n_events = counts.sum()
    c_u = _solve_c(counts, k * n_events)
    mult = np.maximum(1, np.floor(c_u / np.arange(1, len(users) + 1) ** S)).astype(int)
    info["events"] = {
        "users": len(users),
        "head_mult": int(mult[0]),
        "target_rows": int(k * n_events),
    }
    mdf = local_frame(
        spark,
        [(int(u.user_id), int(m)) for u, m in zip(users, mult)],
        "user_id long, __m int",
    )
    rep = (
        ev.join(F.broadcast(mdf), "user_id")
        .withColumn("__r", F.explode(F.sequence(F.lit(0), F.col("__m") - 1)))
        .select(
            (F.col("event_id") + F.col("__r").cast("long") * E_OFF).alias(
                "event_id"
            ),
            # jitter replicas by seconds so rows aren't bit-identical;
            # the head user's sessions densify, which is the stress
            (F.col("ts") + F.make_interval(secs=F.col("__r") % 1800)).alias(
                "ts"
            ),
            "user_id",
            "event_type",
            "value",
            "props",
        )
    )
    rep.write.mode("overwrite").parquet(f"{out_dir}/events.parquet")

    # ---- documents: per-doc Zipf multiplicity -------------------------
    docs = load_table(spark, src_dir, "documents")
    ids = [r.doc_id for r in docs.select("doc_id").collect()]  # bounded
    ids = sorted(ids, key=lambda d: (_dhash(("d", d)), d))
    ones = np.ones(len(ids), dtype=np.float64)
    c_d = _solve_c(ones, k * len(ids))
    dmult = np.maximum(1, np.floor(c_d / np.arange(1, len(ids) + 1) ** S)).astype(int)
    info["documents"] = {
        "docs": len(ids),
        "head_mult": int(dmult[0]),
        "target_rows": int(k * len(ids)),
    }
    ddf = local_frame(
        spark, [(int(d), int(m)) for d, m in zip(ids, dmult)], "doc_id long, __m int"
    )
    drep = (
        docs.join(F.broadcast(ddf), "doc_id")
        .withColumn("__r", F.explode(F.sequence(F.lit(0), F.col("__m") - 1)))
    )
    out_cols = [
        (
            (F.col("doc_id") + F.col("__r").cast("long") * D_OFF).alias("doc_id")
            if c == "doc_id"
            else F.col(c)
        )
        for c in docs.columns
    ]
    drep.select(*out_cols).write.mode("overwrite").parquet(
        f"{out_dir}/documents.parquet"
    )
    return info


def _zipf_dedup_check(spark, zipf_dir: str) -> str:
    """Analytic exact oracle for near-dedup on the Zipf corpus: every
    replica is a VERBATIM copy, so greedy minhash dedup must collapse
    the corpus back to exactly one survivor per distinct text — the
    base doc count — regardless of how Zipf-degenerate the buckets are."""
    from pyspark.sql import functions as F

    from pyblazing_spark.operators.dedup import minhash_dedup
    from pyblazing_spark.sources.tables import load_table

    t0 = time.time()
    docs = load_table(spark, zipf_dir, "documents")
    n_texts = docs.select("text").distinct().count()
    kept = minhash_dedup(docs, threshold=0.99)
    n_kept = kept.count()
    # survivors must also be one-per-text (no cluster kept two copies)
    n_kept_texts = kept.select("text").distinct().count()
    ok = n_kept == n_texts == n_kept_texts
    return (
        f"zipf dedup analytic check: kept {n_kept} of "
        f"{docs.count()} rows, {n_texts} distinct texts -> "
        f"{'EXACT (one survivor per text)' if ok else 'MISMATCH'} "
        f"({time.time()-t0:.1f}s)"
    )


def _aqe_skew_probe(spark, zipf_dir: str) -> str:
    """Plain (unsalted) hot-key join under AQE skew handling, run
    against TWO physical layouts of the same Zipf events:

    - ``clustered``: the corpus as built (the head user's rows sit in
      few parquet files — the natural layout of per-key-arriving data).
      AQE can only split a skewed reduce partition along MAP-OUTPUT
      boundaries, so a hot key concentrated in few mappers is
      silently UNSPLITTABLE (probed: partition flagged over threshold
      but no skew=true mark appears);
    - ``spread``: the same rows round-robin-repartitioned before the
      scan. Now every mapper holds a slice of the hot key and the SMJ
      comes back marked ``skew=true`` with an ``AQEShuffleRead skewed``.

    That contrast is the probe's point: AQE skew handling depends on
    input layout; ``salted_join`` does not (the salt re-keys BEFORE the
    shuffle), which is why the operator exists as the always-on path."""
    from pyspark.sql import functions as F

    from pyblazing_spark.session import scoped_conf
    from pyblazing_spark.sources.tables import load_table

    na = load_table(spark, zipf_dir, "nation").select("n_nationkey", "n_name")
    confs = {
        # BOTH broadcast thresholds off: with only the static one off,
        # AQE's runtime rewrite still converts the SMJ to broadcast
        # (nation is tiny) and there is no shuffled join left to
        # skew-split — on a real dim join that is the RIGHT outcome;
        # forcing SMJ is what makes the skew machinery observable
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        # replica events dict-compress to <1 B/row in shuffle, so the
        # probe-scale hot partition is ~180 KB — size thresholds to the
        # corpus (at 100 TB the same structure exceeds the defaults)
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64k",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64k",
    }
    spread_dir = f"{zipf_dir}/events_spread.parquet"
    load_table(spark, zipf_dir, "events").repartition(32).write.mode(
        "overwrite"
    ).parquet(spread_dir)
    lines = []
    with scoped_conf(spark, confs):
        for tag, ev in (
            ("clustered", load_table(spark, zipf_dir, "events")),
            ("spread", spark.read.parquet(spread_dir)),
        ):
            ev = ev.withColumn(
                "n_nationkey", (F.col("user_id") % 25).cast("int")
            )
            j = ev.join(na, "n_nationkey").groupBy("n_name").count()
            t0 = time.time()
            j.collect()
            dt = time.time() - t0
            final = (
                j._jdf.queryExecution()
                .executedPlan()
                .toString()
                .split("== Initial Plan ==")[0]  # AQE prints twice
            )
            lines.append(
                f"AQE skewJoin [{tag:9s}]: "
                f"{final.count('skew=true')} skew=true mark(s), "
                # matches both 'AQEShuffleRead skewed' and
                # 'AQEShuffleRead coalesced and skewed'
                f"{final.count('skewed')} skewed read(s) "
                f"({dt:.1f}s)"
            )
    return "\n".join(lines)


def main() -> int:
    import json

    from driver_check import check_entry

    from pyblazing_spark.session import get_spark
    from tests.oracle_utils import oracle_connection

    pos = [a for a in sys.argv[1:] if not a.startswith("--")]
    reuse = "--reuse" in sys.argv
    # --smoke (probe-fleet freshness gate): tiny K + first three entries
    # only — proves the script still runs end to end as the tree moves,
    # in ~a minute, without re-certifying the full skew table.
    smoke = "--smoke" in sys.argv
    k = int(pos[0]) if pos else (2 if smoke else 10)
    zipf_dir = pos[1] if len(pos) > 1 else f"/tmp/zipf_probe_{k}x"
    uni_dir = pos[2] if len(pos) > 2 else f"/tmp/scale_probe_{k}x"
    src_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    spark = get_spark(app_name="zipf_probe")
    spark.sparkContext.setLogLevel("ERROR")

    t0 = time.time()
    if reuse and os.path.isdir(f"{zipf_dir}/documents.parquet"):
        print(f"zipf reuse: {zipf_dir}")
        info = {}
    else:
        info = build_zipf(spark, src_dir, zipf_dir, k)
        print(f"zipf build: {time.time()-t0:.1f}s {json.dumps(info)}")
    if not os.path.isdir(f"{uni_dir}/lineitem.parquet"):
        from scale_probe import build_probe

        t0 = time.time()
        build_probe(spark, src_dir, uni_dir, k)
        print(f"uniform control build: {time.time()-t0:.1f}s")

    import __spark_entry__ as E
    from pyblazing_spark.plans import REGISTRY
    from pyblazing_spark.sources.tables import load_table

    # session warmup: without this the FIRST entry absorbs ~10 s of
    # one-time JVM/codegen/Python-worker startup and the zipf-vs-uniform
    # ratio lies (observed: join_salted_skew 18.0 s cold vs 1.8 s warm)
    for d in (zipf_dir, uni_dir):
        for t in ("events", "documents"):
            load_table(spark, d, t).count()

    osql = E.oracle_sql()
    results: dict[str, dict] = {}
    for tag, d in (("zipf", zipf_dir), ("uniform", uni_dir)):
        print(f"-- {tag} corpus @ {d}")
        con = oracle_connection(d)
        for name, mode in (ENTRIES[:3] if smoke else ENTRIES):
            do_oracle = mode == "oracle" or (
                mode == "oracle-uniform-only" and tag == "uniform"
            )
            fn = REGISTRY[name].fn
            # correctness on the first run; timing from a SECOND run:
            # the first absorbs one-time session/codegen warmup unevenly
            # (observed 4.7x vs a steady-state 1.3x on join_salted_skew)
            if check_entry(spark, con, name, fn, d,
                           osql.get(name) if do_oracle else None) is None:
                results.setdefault(name, {})[tag] = None
                continue
            t0 = time.time()
            fn(spark, d).toPandas()
            results.setdefault(name, {})[tag] = round(time.time() - t0, 2)
        con.close()

    print()
    print(_zipf_dedup_check(spark, zipf_dir))
    print(_aqe_skew_probe(spark, zipf_dir))
    print()
    print(f"{'entry':26s} {'zipf':>8s} {'uniform':>8s} {'ratio':>6s}")
    bad = 0
    for name, r in results.items():
        z, u = r.get("zipf"), r.get("uniform")
        if z is None or u is None:
            bad += 1
            print(f"{name:26s} {'FAIL':>8s}")
            continue
        ratio = z / u if u else float("inf")
        print(f"{name:26s} {z:8.1f} {u:8.1f} {ratio:5.1f}x")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
