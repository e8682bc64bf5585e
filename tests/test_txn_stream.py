"""Streaming source over the TxnTable commit log (sources/txn_stream):
schema, per-commit tagging, and the property that makes it a real
source — OFFSET RESUME across a checkpointed restart (new commits
stream, already-streamed versions do not repeat)."""

from __future__ import annotations

import os

from pyblazing_spark.sources.txn_stream import TxnStreamDataSource
from pyblazing_spark.sources.txn_table import TxnTable


def _mk(spark, rows):
    return spark.createDataFrame(rows, "k long, v string")


def _drain_to_parquet(spark, table_path, out_dir, ckpt_dir):
    """availableNow drain of the txn stream into a parquet sink (the
    sink that survives restarts — CLAUDE.md streaming note)."""
    spark.dataSource.register(TxnStreamDataSource)
    q = (
        spark.readStream.format("txn_table_stream")
        .option("path", table_path)
        .load()
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300), "drain did not finish"


def test_offset_resume_streams_only_new_commits(spark, tmp_path):
    tpath = str(tmp_path / "t")
    out = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    t = TxnTable.create(spark, tpath, _mk(spark, [(1, "a"), (2, "b")]), key="k")
    t.append(_mk(spark, [(3, "c")]))

    _drain_to_parquet(spark, tpath, out, ckpt)
    got1 = {
        (r["k"], r["v"], r["_commit_version"], r["_commit_action"])
        for r in spark.read.parquet(out).collect()
    }
    assert got1 == {
        (1, "a", 1, "create"),
        (2, "b", 1, "create"),
        (3, "c", 2, "append"),
    }

    # two more commits AFTER the first drain; restart from the SAME
    # checkpoint — only versions 3..4 may arrive, no repeats of 1..2
    t.append(_mk(spark, [(4, "d")]))
    t.append(_mk(spark, [(5, "e")]))
    _drain_to_parquet(spark, tpath, out, ckpt)
    got2 = {
        (r["k"], r["_commit_version"]) for r in spark.read.parquet(out).collect()
    }
    assert got2 == {(1, 1), (2, 1), (3, 2), (4, 3), (5, 4)}
    # exactly-once at the row level: no key appears twice
    rows = spark.read.parquet(out).count()
    assert rows == 5


def test_from_version_option_skips_history(spark, tmp_path):
    tpath = str(tmp_path / "t")
    t = TxnTable.create(spark, tpath, _mk(spark, [(1, "a")]), key="k")
    t.append(_mk(spark, [(2, "b")]))
    t.append(_mk(spark, [(3, "c")]))
    spark.dataSource.register(TxnStreamDataSource)
    q = (
        spark.readStream.format("txn_table_stream")
        .option("path", tpath)
        .option("fromVersion", "2")  # start AFTER version 2
        .load()
        .writeStream.format("memory")
        .queryName("txn_from_v")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    got = {
        (r["k"], r["_commit_version"])
        for r in spark.sql("SELECT * FROM txn_from_v").collect()
    }
    assert got == {(3, 3)}


def test_merge_commit_emits_rewritten_files(spark, tmp_path):
    """The documented ignoreChanges caveat: a merge commit's added
    files re-emit kept rows alongside new ones — pinned so the
    semantics stay explicit, not accidental."""
    tpath = str(tmp_path / "t")
    t = TxnTable.create(
        spark, tpath, _mk(spark, [(1, "a"), (2, "b")]).coalesce(1), key="k"
    )
    t.merge(_mk(spark, [(2, "B"), (9, "z")]).coalesce(1))
    spark.dataSource.register(TxnStreamDataSource)
    q = (
        spark.readStream.format("txn_table_stream")
        .option("path", tpath)
        .load()
        .writeStream.format("memory")
        .queryName("txn_merge_sem")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    got = {
        (r["k"], r["v"], r["_commit_version"], r["_commit_action"])
        for r in spark.sql("SELECT * FROM txn_merge_sem").collect()
    }
    # v1 creates both; v2's merge file carries kept row 1 + upsert 2 + new 9
    assert got == {
        (1, "a", 1, "create"),
        (2, "b", 1, "create"),
        (1, "a", 2, "merge"),
        (2, "B", 2, "merge"),
        (9, "z", 2, "merge"),
    }


def _offset_versions(ckpt_dir):
    """Committed end-offset versions from Spark's offset WAL, in batch
    order (one file per micro-batch)."""
    import json

    off = os.path.join(ckpt_dir, "offsets")
    out = []
    for f in sorted(os.listdir(off), key=lambda s: (len(s), s)):
        if f.startswith("."):
            continue
        out.append(json.loads(open(os.path.join(off, f)).read().splitlines()[-1])["version"])
    return out


def test_max_versions_per_trigger_drains_backlog_in_batches(spark, tmp_path):
    """Admission control (VERDICT r13 #2): a 7-commit cold-start
    backlog with maxVersionsPerTrigger=2 must drain in >=4
    micro-batches with monotonically advancing offsets — never as one
    unbounded batch — and deliver every row exactly once."""
    import time

    tpath, out, ckpt = (str(tmp_path / "t"), str(tmp_path / "sink"),
                        str(tmp_path / "ckpt"))
    t = TxnTable.create(spark, tpath, _mk(spark, [(0, "v0")]), key="k")
    for i in range(1, 7):
        t.append(_mk(spark, [(i, f"v{i}")]))
    spark.dataSource.register(TxnStreamDataSource)
    q = (
        spark.readStream.format("txn_table_stream")
        .option("path", tpath)
        .option("maxVersionsPerTrigger", "2")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(processingTime="300 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 240
        while time.time() < deadline:
            try:
                if spark.read.parquet(out).count() >= 7:
                    break
            except Exception:  # sink not created yet  # noqa: BLE001
                pass
            time.sleep(1)
    finally:
        q.stop()
        q.awaitTermination(120)
    rows = spark.read.parquet(out)
    assert rows.count() == 7  # every row exactly once
    assert sorted(
        r["_commit_version"] for r in rows.select("_commit_version").collect()
    ) == list(range(1, 8))
    offs = _offset_versions(ckpt)
    drain = offs[: next(i for i, v in enumerate(offs) if v == 7) + 1]
    assert drain == [2, 4, 6, 7]  # capped, monotone, 4 batches


def test_max_versions_cap_holds_across_restart(spark, tmp_path):
    """Restart leg: the engine re-plans the last WAL batch before the
    first latestOffset (seeding the admission base), so a post-restart
    backlog ALSO drains in capped batches — no unbounded catch-up, no
    duplicate or lost rows."""
    import time

    tpath, out, ckpt = (str(tmp_path / "t"), str(tmp_path / "sink"),
                        str(tmp_path / "ckpt"))
    t = TxnTable.create(spark, tpath, _mk(spark, [(0, "v0")]), key="k")
    t.append(_mk(spark, [(1, "v1")]))
    spark.dataSource.register(TxnStreamDataSource)

    def run(expect_rows):
        q = (
            spark.readStream.format("txn_table_stream")
            .option("path", tpath)
            .option("maxVersionsPerTrigger", "2")
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(processingTime="300 milliseconds")
            .start()
        )
        try:
            deadline = time.time() + 240
            while time.time() < deadline:
                try:
                    if spark.read.parquet(out).count() >= expect_rows:
                        break
                except Exception:  # noqa: BLE001
                    pass
                time.sleep(1)
        finally:
            q.stop()
            q.awaitTermination(120)

    run(2)
    for i in range(2, 8):  # 6-commit backlog while the stream is DOWN
        t.append(_mk(spark, [(i, f"v{i}")]))
    run(8)
    rows = spark.read.parquet(out)
    assert rows.count() == 8
    assert sorted(r["k"] for r in rows.collect()) == list(range(8))
    offs = _offset_versions(ckpt)
    # restart tail: every post-restart batch advanced by <= 2 versions
    tail = offs[offs.index(2) + 1:]
    tail = tail[: next(i for i, v in enumerate(tail) if v == 8) + 1]
    prev = 2
    for v in tail:
        assert 0 < v - prev <= 2, offs
        prev = v
    assert prev == 8


def test_max_files_per_trigger_caps_by_added_files(spark, tmp_path):
    """maxFilesPerTrigger admits whole versions until the next would
    overflow the file budget: 2-file commits under a 3-file cap drain
    one version per micro-batch."""
    import time

    tpath, out, ckpt = (str(tmp_path / "t"), str(tmp_path / "sink"),
                        str(tmp_path / "ckpt"))
    t = TxnTable.create(
        spark, tpath,
        _mk(spark, [(0, "a"), (1, "b")]).repartition(2), key="k")
    for i in range(1, 4):
        t.append(_mk(spark, [(10 * i, "x"), (10 * i + 1, "y")])
                 .repartition(2))
    assert all(
        len(t._load_commit(v).get("add", [])) == 2
        for v in range(1, 5)
    )
    spark.dataSource.register(TxnStreamDataSource)
    q = (
        spark.readStream.format("txn_table_stream")
        .option("path", tpath)
        .option("maxFilesPerTrigger", "3")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(processingTime="300 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 240
        while time.time() < deadline:
            try:
                if spark.read.parquet(out).count() >= 8:
                    break
            except Exception:  # noqa: BLE001
                pass
            time.sleep(1)
    finally:
        q.stop()
        q.awaitTermination(120)
    rows = spark.read.parquet(out)
    assert rows.count() == 8
    offs = _offset_versions(ckpt)
    drain = offs[: next(i for i, v in enumerate(offs) if v == 4) + 1]
    assert drain == [1, 2, 3, 4]  # one 2-file version per batch


def test_stream_txn_source_runs_outside_the_repo(tmp_path, sf_dir):
    """Spark plans a Python stream source in a Python process of its
    own, which does not see the package zip the session ships to its
    workers. Run from a directory outside the repo, with the package on
    the driver's ``sys.path`` only (not ``PYTHONPATH``, which Spark's
    Python processes would inherit), the entry must still stream."""
    import pathlib
    import subprocess
    import sys

    repo = pathlib.Path(__file__).resolve().parent.parent
    code = (
        f"import sys; sys.path.insert(0, {str(repo)!r})\n"
        "from pyblazing_spark.session import get_spark\n"
        "import pyblazing_spark.plans as plans\n"
        "spark = get_spark(app_name='txn-stream-cwd', master='local[2]')\n"
        f"rows = plans.REGISTRY['stream_txn_source'].fn(spark, {sf_dir!r}).collect()\n"
        "print('VERSIONS', [r.version for r in rows])\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_SUBMIT_ARGS"] = "--driver-memory 1g pyspark-shell"
    proc = subprocess.run(
        [sys.executable, "-c", code],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "VERSIONS [1, 2, 3]" in proc.stdout, proc.stdout[-2000:]
