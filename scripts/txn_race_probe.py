"""Two-PROCESS writer race on one TxnTable (VERDICT r13 #3): the
optimistic-commit claim rests on `os.link` put-if-absent atomicity
ACROSS PROCESSES — the r13 proof raced threads inside one driver, which
shares a CPython runtime and proves less. Here two separate Spark
driver subprocesses (each its own JVM + its own TxnTable handle) race
REAL DML — one merging upserts, one appending — on a shared table path.

Pass criteria (printed as `RACE OK`):
- both writers complete every round without CommitConflict exhaustion;
- the log is contiguous (create + 2*rounds commits, no gaps);
- the final snapshot VALUE-matches the interleaving-independent
  expectation: appended keys are disjoint from merged keys, so the
  final state is (last merge round's upserts) ∪ (all appended rows);
- at least one optimistic RETRY actually happened (each writer reports
  observed conflicts; a race that never collided proved nothing — with
  2x15 alternating commits on one version counter, collisions are
  effectively certain).

Usage: python scripts/txn_race_probe.py [rounds | --smoke]
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

_WRITER = r"""
import json, os, sys, time
sys.path.insert(0, sys.argv[5])
from pyblazing_spark.session import get_spark, local_frame

role, path, rounds, start_file = (
    sys.argv[1], sys.argv[2], int(sys.argv[3]), sys.argv[4])
spark = get_spark(app_name=f"txn_race_{role}")
from pyblazing_spark.sources import txn_table as TT

conflicts = 0
_orig = TT.TxnTable._try_publish
def counting(self, version, payload):
    global conflicts
    ok = _orig(self, version, payload)
    if not ok:
        conflicts += 1
    return ok
TT.TxnTable._try_publish = counting

t = TT.TxnTable(spark, path)
while not os.path.exists(start_file):  # barrier: maximize overlap
    time.sleep(0.01)
versions = []
for r in range(rounds):
    if role == "merger":
        df = local_frame(
            spark, [(k, f"m{r}_{k}") for k in range(10)], "k long, v string")
        versions.append(t.merge(df.coalesce(1)))
    else:
        df = local_frame(spark, [(1000 + r, f"a{r}")], "k long, v string")
        versions.append(t.append(df.coalesce(1)))
print("RESULT " + json.dumps(
    {"role": role, "versions": versions, "conflicts": conflicts}))
spark.stop()
"""


def main() -> int:
    rounds = 15
    if len(sys.argv) > 1:
        rounds = 5 if sys.argv[1] == "--smoke" else int(sys.argv[1])
    from pyblazing_spark.session import get_spark, local_frame

    spark = get_spark(app_name="txn_race_parent")
    from pyblazing_spark.sources.txn_table import TxnTable

    base = tempfile.mkdtemp(prefix="txn_race_")
    path = os.path.join(base, "t")
    start_file = os.path.join(base, "go")
    wfile = os.path.join(base, "writer.py")
    with open(wfile, "w") as fh:
        fh.write(_WRITER)
    try:
        t = TxnTable.create(
            spark, path,
            local_frame(
                spark, [(k, f"base_{k}") for k in range(10)], "k long, v string"
            ).coalesce(1),
            key="k",
        )
        procs = [
            subprocess.Popen(
                [sys.executable, wfile, role, path, str(rounds),
                 start_file, _REPO],
                stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                text=True, cwd=_REPO,
            )
            for role in ("merger", "appender")
        ]
        import time

        time.sleep(20)  # let both JVMs warm up behind the barrier
        open(start_file, "w").close()
        reports = {}
        for p in procs:
            out, _ = p.communicate(timeout=900)
            assert p.returncode == 0, out[-2000:]
            line = [ln for ln in out.splitlines() if ln.startswith("RESULT ")]
            assert line, out[-2000:]
            rep = json.loads(line[-1][7:])
            reports[rep["role"]] = rep
        head = t.latest_version()
        expect_head = 1 + 2 * rounds
        all_versions = sorted(
            reports["merger"]["versions"] + reports["appender"]["versions"]
        )
        got = {r["k"]: r["v"] for r in t.read().collect()}
        want = {k: f"m{rounds - 1}_{k}" for k in range(10)}
        want.update({1000 + r: f"a{r}" for r in range(rounds)})
        conflicts = (
            reports["merger"]["conflicts"] + reports["appender"]["conflicts"]
        )
        print(f"head={head} expected={expect_head} "
              f"versions={all_versions} conflicts={conflicts}")
        ok = (
            head == expect_head
            and all_versions == list(range(2, expect_head + 1))
            and got == want
            and conflicts > 0
        )
        if got != want:
            diff = {k: (got.get(k), want.get(k))
                    for k in set(got) | set(want) if got.get(k) != want.get(k)}
            print("value diff:", dict(list(diff.items())[:10]))
        print("RACE OK" if ok else "RACE FAILED")
        return 0 if ok else 1
    finally:
        shutil.rmtree(base, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
