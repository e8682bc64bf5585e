"""SCC algorithm scaling probe (VERDICT r10 #2): two-sided min-label
FW-BW (``scc_pivot_fwbw``) vs the bounded-domain ``scc_summary`` as the
NODE DOMAIN grows.

``scc_summary`` is one distinct-quotient job plus a driver-side Tarjan
over the collected edges (the "doubling" labels below name the
reach-doubling closure it replaced in r15, whose self-joins produced
~m³ rows per m-node SCC). ``scc_pivot_fwbw`` trims, then propagates in
the same rounds the minimum id reaching each node and the minimum id
it reaches; it touches O(edges × rounds) rows, runs one Spark job per
round, and never collects the edge set. This probe runs both on a
deterministic synthetic graph family whose SCC sizes grow with the
domain:

- graph(N): 8 disjoint groups of m = N/8 nodes; within a group every
  node has forward edges at strides {1, 4, 16, 64, 256} (mod m) — a
  ring with skip chords, strongly connected with diameter
  O(log_4 m × 4), so propagation round counts stay small while the
  SCC size (= m) scales linearly with N.
- correctness: both algorithms must produce identical top-20 rollups
  at every size they both run.
- scaling: fwbw runs at 1x/2x/4x/10x the base domain, scc_summary at
  1x/2x. Each fwbw line gives wall time and Spark jobs (graph
  generation included).

Usage: python scripts/scc_scale_probe.py [base_N]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from pyblazing_spark.session import get_spark

GROUPS = 8
STRIDES = (1, 4, 16, 64, 256)


def gen_graph(spark, n: int):
    m = n // GROUPS
    strides = [s for s in STRIDES if s < m]
    base = spark.range(n).select(
        (F.col("id") / m).cast("long").alias("g"),
        (F.col("id") % m).alias("pos"),
    )
    parts = [
        base.select(
            (F.col("g") * m + F.col("pos")).alias("u"),
            (F.col("g") * m + (F.col("pos") + F.lit(s)) % m).alias("v"),
        )
        for s in strides
    ]
    e = parts[0]
    for p in parts[1:]:
        e = e.unionAll(p)
    return e.where(F.col("u") != F.col("v")).localCheckpoint()


def main() -> int:
    # --smoke (probe-fleet freshness gate): small domain, fwbw-vs-
    # doubling equality only — the full scaling ladder stays manual.
    smoke = "--smoke" in sys.argv
    pos = [a for a in sys.argv[1:] if not a.startswith("--")]
    base = int(pos[0]) if pos else (300 if smoke else 1000)
    spark = get_spark(app_name="scc_scale_probe")
    spark.sparkContext.setLogLevel("ERROR")
    from pyblazing_spark.operators.graph import scc_pivot_fwbw, scc_summary

    sc = spark.sparkContext
    jobs: dict[int, int] = {}

    def run(fn, n, **kw):
        group = f"{fn.__name__}-{n}"
        sc.setJobGroup(group, group)
        e = gen_graph(spark, n)
        t0 = time.time()
        out = sorted(tuple(r) for r in fn(e, **kw).collect())
        dt = time.time() - t0
        sc.setLocalProperty("spark.jobGroup.id", None)
        jobs[n] = len(sc.statusTracker().getJobIdsForGroup(group))
        return out, dt

    print(f"graph family: {GROUPS} ring+chord groups, SCC size = N/{GROUPS}")
    # fwbw scaling first (doubling last: its 2x point can OOM the heap,
    # which is itself the result — but it must not poison the fwbw runs)
    b1, tb = run(scc_pivot_fwbw, base)
    if smoke:
        a1, ta = run(scc_summary, base)
        ok = a1 == b1
        print(f"smoke: N={base} fwbw={tb:.1f}s doubling={ta:.1f}s equal={ok}")
        return 0 if ok else 1
    b2, tb2 = run(scc_pivot_fwbw, base * 2)
    _, tb4 = run(scc_pivot_fwbw, base * 4)
    _, tb10 = run(scc_pivot_fwbw, base * 10)
    print(
        f"fwbw: N={base} {tb:.1f}s | 2x {tb2:.1f}s ({tb2/tb:.1f}x) | "
        f"4x {tb4:.1f}s ({tb4/tb:.1f}x) | 10x {tb10:.1f}s ({tb10/tb:.1f}x)"
    )
    print("fwbw jobs: " + " | ".join(f"N={n} {j}" for n, j in jobs.items()))
    a1, ta = run(scc_summary, base)
    print(f"doubling: N={base} {ta:.1f}s, equal-to-fwbw={a1 == b1}")
    if a1 != b1:
        print("MISMATCH — aborting"); return 1
    try:
        a2, ta2 = run(scc_summary, base * 2)
        print(
            f"doubling: N={base*2} {ta2:.1f}s ({ta2/ta:.1f}x for 2x domain; "
            f"per-round join volume is ~m^3 per SCC -> 8x), "
            f"equal-to-fwbw={a2 == b2}"
        )
    except Exception as exc:
        print(
            f"doubling: N={base*2} DIED: {str(exc).splitlines()[0][:120]} "
            f"(the m^3-per-SCC self-join — the cliff fwbw exists to avoid)"
        )
    print(
        "doubling 10x analytic: per-round join volume ~10^3 = 1000x its "
        "1x volume; not run."
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
