"""Commit-log checkpoint probe (VERDICT r13 #1 / r14): prove that
snapshot-state reads on a long-lived TxnTable are FLAT in commit count
with checkpointing, vs the linear O(commits) full replay without.

Method: N tiny appends (default 300; --smoke 60) on one table with
checkpoint_interval=10, then time `_state_at(head)` (the manifest read
under every read()/merge()/committed_app_txn_ids()) two ways at
sampled versions across the history:

- ckpt:   the shipped path — newest checkpoint <= v + suffix replay
- replay: the pre-r14 behavior, forced by masking `_latest_checkpoint`

Verdict line: FLAT if the checkpointed read at the head costs no more
than ~3x the read at the first sample point (it opens <= interval + 1
manifests regardless of history depth) AND beats the full replay at the
head by >= 3x (300 commits / interval 10 = ~27x fewer opens; 3x wall is
the conservative floor). The replay trend is printed so the linear
growth is visible, not asserted.

Usage: python scripts/txn_ckpt_probe.py [N | --smoke]
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    n = 300
    if len(sys.argv) > 1:
        n = 60 if sys.argv[1] == "--smoke" else int(sys.argv[1])
    from pyblazing_spark.session import get_spark, local_frame

    spark = get_spark(app_name="txn_ckpt_probe")
    from pyblazing_spark.sources.txn_table import TxnTable

    base = tempfile.mkdtemp(prefix="txn_ckpt_probe_")
    path = os.path.join(base, "t")
    try:
        t = TxnTable.create(
            spark, path,
            local_frame(spark, [(0, "v0")], "k long, v string"),
            key="k", checkpoint_interval=10,
        )
        t0 = time.time()
        for i in range(1, n):
            t.append(
                local_frame(spark, [(i, f"v{i}")], "k long, v string"),
                app_txn_id=f"probe:{i}",
            )
        print(f"wrote {n} commits in {time.time() - t0:.1f}s "
              f"(incl. {n // 10} checkpoints)")

        def timed_state(handle, v, reps=5):
            best = float("inf")
            for _ in range(reps):
                s = time.time()
                st = handle._state_at(v)
                best = min(best, time.time() - s)
            assert len(st["live"]) == v  # 1 add per commit
            return best * 1000.0

        masked = TxnTable(spark, path, checkpoint_interval=10)
        masked._latest_checkpoint = lambda max_version: None  # pre-r14

        samples = sorted({max(1, n // 6), n // 2, n})
        rows = []
        for v in samples:
            rows.append((v, timed_state(t, v), timed_state(masked, v)))
        print(f"{'version':>8} {'ckpt_ms':>9} {'replay_ms':>10} {'x':>6}")
        for v, c, r in rows:
            print(f"{v:>8} {c:>9.2f} {r:>10.2f} {r / max(c, 1e-6):>6.1f}")
        # streaming-writer idempotence check cost (was O(commits^2) over
        # a writer lifetime): one call at head, both paths
        s = time.time()
        ids = t.committed_app_txn_ids()
        ck_ids = (time.time() - s) * 1000
        s = time.time()
        ids2 = masked.committed_app_txn_ids()
        rp_ids = (time.time() - s) * 1000
        assert ids == ids2 and len(ids) == n - 1
        print(f"committed_app_txn_ids: ckpt {ck_ids:.2f}ms "
              f"replay {rp_ids:.2f}ms")

        head_ckpt, head_replay = rows[-1][1], rows[-1][2]
        first_ckpt = rows[0][1]
        flat = head_ckpt <= 3.0 * max(first_ckpt, 0.05)
        wins = head_replay >= 3.0 * head_ckpt
        print(f"head ckpt {head_ckpt:.2f}ms vs first-sample "
              f"{first_ckpt:.2f}ms; replay head {head_replay:.2f}ms")
        print("FLAT" if (flat and wins) else "GROWING")
        return 0 if (flat and wins) else 1
    finally:
        shutil.rmtree(base, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
