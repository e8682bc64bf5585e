"""Per-query bench profiler for the optimization rounds (guide §1).

For every bench entry: warm at sf0.001, then time `reps` runs at the
target SF with collect() — bench.py's own session warm-up, timed runs
and trimmed median — and record the min/trimmed median, the number of Spark JOBS the query triggers
(constructor collects + action), and dump `.explain("formatted")` to
plans/<tag>/<name>_<suffix>.txt with a one-line plan-feature summary
(Exchange / BatchEvalPython / ArrowEvalPython / scan counts).

Usage:
    python scripts/bench_profile.py [--sf /root/testdata/sf0.1]
        [--reps 3] [--tag r14] [--suffix before] [--only name1,name2]

Writes a JSON summary to /tmp/bench_profile_<suffix>.json.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import re
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

from bench import session_warmup, timed_runs, trimmed_median  # noqa: E402


def plan_summary(plan: str) -> dict:
    # AQE prints Initial + Final; count only the final section when split
    final = plan.split("== Initial Plan ==")[0]
    return {
        "exchanges": len(re.findall(r"\bExchange\b", final)),
        "py_eval": len(re.findall(r"BatchEvalPython|ArrowEvalPython", final)),
        "map_in_py": len(re.findall(r"MapInArrow|MapInPandas|FlatMapGroupsInPandas", final)),
        "smj": len(re.findall(r"SortMergeJoin", final)),
        "bhj": len(re.findall(r"BroadcastHashJoin", final)),
        "scans": len(re.findall(r"Scan parquet|FileScan", final)),
        "sorts": len(re.findall(r"\bSort\b", final)),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--tag", default="r14")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--only", default="")
    ap.add_argument("--no-plans", action="store_true")
    ap.add_argument(
        "--catalog",
        action="store_true",
        help="profile the FULL registry (all 304 entries), not just the bench set",
    )
    ap.add_argument("--no-warm", action="store_true", help="skip the sf0.001 warm run")
    args = ap.parse_args()

    from pyblazing_spark.plans import bench_queries
    from pyblazing_spark.plans.registry import REGISTRY
    from pyblazing_spark.session import get_spark

    spark = get_spark(app_name="bench-profile")
    spark.sparkContext.setLogLevel("ERROR")

    qs = (
        {name: spec.fn for name, spec in REGISTRY.items()}
        if args.catalog
        else bench_queries()
    )
    if args.only:
        keep = set(args.only.split(","))
        qs = {n: f for n, f in qs.items() if n in keep}

    warm_dir = session_warmup(spark, args.sf, qs)
    if args.no_warm:
        warm_dir = None
    plans_dir = os.path.join(_REPO, "plans", args.tag)
    os.makedirs(plans_dir, exist_ok=True)

    tracker = spark.sparkContext.statusTracker()
    out: dict[str, dict] = {}
    for name in sorted(qs):
        spark.sparkContext.setJobDescription(f"profile:{name}")
        try:
            if warm_dir is not None:
                qs[name](spark, warm_dir).collect()  # warm codegen
            jobs_before = len(tracker.getJobIdsForGroup(None) or [])
            runs = timed_runs(qs[name], spark, args.sf, args.reps)
            med = trimmed_median(runs)
            jobs_after = len(tracker.getJobIdsForGroup(None) or [])
            df = qs[name](spark, args.sf)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            plan = buf.getvalue()
            summ = plan_summary(plan)
            if not args.no_plans:
                with open(
                    os.path.join(plans_dir, f"{name}_{args.suffix}.txt"), "w"
                ) as fh:
                    fh.write(plan)
            out[name] = {
                "runs": runs,
                "min": min(runs),
                "med": med,
                "jobs_per_run": round((jobs_after - jobs_before) / args.reps, 1),
                **summ,
            }
            print(
                f"{name:28s} min={min(runs):6.3f} med={med:6.3f} "
                f"jobs/run={(jobs_after - jobs_before) / args.reps:5.1f} "
                f"ex={summ['exchanges']} py={summ['py_eval']}+{summ['map_in_py']} "
                f"scans={summ['scans']}"
            )
        except Exception as exc:  # noqa: BLE001
            out[name] = {"error": f"{type(exc).__name__}: {exc}"}
            print(f"{name:28s} ERROR {type(exc).__name__}: {str(exc)[:120]}")
        finally:
            spark.sparkContext.setJobDescription(None)

    path = f"/tmp/bench_profile_{args.suffix}.json"
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1)
    print("wrote", path)


if __name__ == "__main__":
    main()
