"""Jar-free transactional table format: snapshot-isolation commits,
time travel, MERGE upsert, and concurrent-writer safety over plain
parquet — built from first principles on the PUBLIC log-structured
table protocol concepts (Delta Lake's commit log / Iceberg's snapshot
manifests, as described in their published papers), the way
``operators/avro_py.py`` builds the Avro OCF codec from the public
spec. The reference has no sink/DML surface at all (SURVEY §2.8) —
this is the superset a production pipeline needs where
``pipeline_merge_upsert``'s atomic-directory-swap emulation stops:
snapshot commits, read-at-version, and two writers racing.

Protocol
--------
::

    table/
      _txn/v00000001.json        one JSON commit per snapshot
      _txn/ckpt-v00000010.json   periodic checkpoint (log INDEX)
      data/<uuid>/part-*.parquet immutable data files

- **Atomic publication**: a commit is a single JSON file named by its
  version, created with POSIX put-if-absent (``os.link`` of a temp
  file onto the final name — fails with ``FileExistsError`` if the
  version already exists). Readers either see the whole commit or
  none: snapshot isolation without locks. On an object store a
  production deployment swaps this one primitive for a conditional
  PUT / commit service (the documented Delta approach); everything
  else is storage-agnostic.
- **Optimistic concurrency**: a writer losing the race re-reads the
  log, revalidates against the new snapshot, and retries with the
  next version number. Appends always revalidate trivially;
  merge/overwrite recompute from the fresh snapshot.
- **Immutability**: commits never rewrite parquet — they add and
  remove *references*. Time travel is replaying the log prefix.
- **Checkpointing** (the Delta ``_last_checkpoint`` pattern): every
  ``checkpoint_interval`` commits the writer publishes
  ``ckpt-v%08d.json`` holding the live-file set, accumulated
  ``app_txn_id`` set, and latest schema at that version. Snapshot
  state is then (newest checkpoint <= target) + replay of the SUFFIX
  only — O(interval) JSON reads per snapshot instead of O(commits),
  and a streaming writer's idempotence check stops being
  O(commits^2) over its lifetime. Checkpoints are an INDEX, never a
  truncation: raw commit files are kept, so time travel below (or
  without) any checkpoint still replays from v1.
- **File skipping**: each added file carries a row count plus min/max
  stats read from the parquet footers via pyarrow — for the designated
  key column (legacy ``min``/``max`` fields) AND for every leaf scalar
  column (the ``stats`` map, Delta's per-column dataSkippingNumIndexedCols
  concept, capped at :data:`_MAX_STATS_COLS`). MERGE rewrites ONLY
  files whose key range intersects the source batch's range, and
  ``read(where=...)`` serves range predicates on ANY stats column from
  a manifest-pruned file subset. At 100 TB with time-clustered ingest
  keys this turns a full-table rewrite into a few-file rewrite and a
  full-table scan into a few-file scan.

Scale notes: reads list one directory and load one checkpoint + a
bounded commit suffix — no driver-side data. All data movement is
``spark.read.parquet(paths)`` / ``df.write.parquet`` (distributed,
columnar, predicate-pushdown preserved). ``vacuum`` deletes data files
unreferenced by any snapshot >= a cutoff (time travel below the cutoff
is forfeited, as in Delta VACUUM).
"""

from __future__ import annotations

import datetime
import decimal
import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession

from pyblazing_spark.session import local_frame, scoped_conf

_LOG_DIR = "_txn"
_DATA_DIR = "data"
_V_FMT = "v%08d.json"
_CKPT_FMT = "ckpt-v%08d.json"
#: Per-column stats are recorded for at most this many leading leaf
#: scalar columns (Delta's dataSkippingNumIndexedCols default is 32) —
#: bounds manifest JSON size on wide tables.
_MAX_STATS_COLS = 32
#: String stats longer than this are DROPPED: parquet writers may
#: truncate long binary statistics, and a truncated *max* under-states
#: the real maximum, which would over-prune (silent wrong answers).
#: Dropping the stat is always safe — the file merely survives pruning.
_MAX_STAT_STR = 60
#: Rows-per-file goal for ``rows_hint``-adaptive bucketed writes. Sized
#: so fixture-scale merges collapse to a handful of files; guide §6 aims
#: output files at 128 MB–1 GB, so a deployment with very wide or very
#: narrow rows would resize it.
_TARGET_FILE_ROWS = 1_000_000


class CommitConflict(Exception):
    """Another writer published this version first (caught internally
    by the retry loop; surfaces only when retries are exhausted)."""


def _json_scalar(v):
    """Stat / bound -> JSON-safe scalar in a form whose ordering matches
    the source type's ordering, so persisted stats compare correctly
    against live values after a JSON round trip:

    - bytes: utf-8 decode (byte order == code-point order for utf-8);
    - datetime: fixed-width ISO ``YYYY-MM-DD HH:MM:SS.ffffff`` (lexical
      order == temporal order only at FIXED width). Parquet footer
      stats arrive tz-AWARE (UTC) while Spark collects naive
      session-local values — aware values are normalized to naive UTC
      first, which matches exactly under a UTC session timezone (the
      repo/driver default; a non-UTC session merely weakens pruning to
      a constant offset, never correctness, because the residual
      row-wise filter always reapplies the bound);
    - date: ISO ``YYYY-MM-DD`` (fixed width already);
    - Decimal: float (order-preserving within double precision — the
      lexical order of decimal STRINGS is wrong: '9.5' > '10.2');
    - int / float / str / bool / None: pass through.
    """
    if isinstance(v, bytes):
        return v.decode("utf-8", "replace")
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat(sep=" ", timespec="microseconds")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (bool, int, float, str)) or v is None:
        return v
    return str(v)


# --------------------------------------------------------------- xxh64
# Spark-compatible XxHash64 for SCALAR LITERALS, from the public XXH64
# spec (Cyan4973/xxHash) + Spark's per-type dispatch (seed 42; ints and
# date-days take the 4-byte path, longs and timestamp-micros the 8-byte
# path). r14 optimization: the bucketed point-lookup prune previously
# hashed its ONE literal by running a `spark.range(1)` JOB per read —
# a full scheduler round-trip to hash eight bytes. Pinned against
# F.xxhash64 across types in tests/test_txn_table.py.
_XXH_P1 = 0x9E3779B185EBCA87
_XXH_P2 = 0xC2B2AE3D27D4EB4F
_XXH_P3 = 0x165667B19E3779F9
_XXH_P4 = 0x85EBCA77C2B2AE63
_XXH_P5 = 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1


def _xxh_rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _xxh_fmix(h: int) -> int:
    h ^= h >> 33
    h = (h * _XXH_P2) & _M64
    h ^= h >> 29
    h = (h * _XXH_P3) & _M64
    h ^= h >> 32
    return h


def _xxh64_long(value: int, seed: int = 42) -> int:
    """Spark XXH64.hashLong (signed 64-bit result)."""
    value &= _M64
    h = (seed + _XXH_P5 + 8) & _M64
    h ^= (_xxh_rotl((value * _XXH_P2) & _M64, 31) * _XXH_P1) & _M64
    h = (_xxh_rotl(h, 27) * _XXH_P1 + _XXH_P4) & _M64
    h = _xxh_fmix(h)
    return h - (1 << 64) if h >= (1 << 63) else h


def _xxh64_int(value: int, seed: int = 42) -> int:
    """Spark XXH64.hashInt (signed 64-bit result)."""
    value &= 0xFFFFFFFF
    h = (seed + _XXH_P5 + 4) & _M64
    h ^= (value * _XXH_P1) & _M64
    h = (_xxh_rotl(h, 23) * _XXH_P2 + _XXH_P3) & _M64
    h = _xxh_fmix(h)
    return h - (1 << 64) if h >= (1 << 63) else h


def _bucket_of_literal(value, ktype, n_buckets: int) -> int | None:
    """``pmod(xxhash64(lit(value) cast ktype), n_buckets)`` computed
    driver-side, or None when the type needs the Spark fallback.
    Python ``%`` of a signed int by a positive modulus IS pmod."""
    import datetime as _dt

    from pyspark.sql.types import (
        ByteType,
        DateType,
        IntegerType,
        LongType,
        ShortType,
        TimestampNTZType,
    )

    if isinstance(ktype, LongType) and isinstance(value, int):
        return _xxh64_long(value) % n_buckets
    if isinstance(ktype, (IntegerType, ShortType, ByteType)) and isinstance(
        value, int
    ):
        return _xxh64_int(value) % n_buckets
    if isinstance(ktype, DateType):
        if isinstance(value, _dt.datetime):
            value = value.date()
        if isinstance(value, _dt.date):
            return _xxh64_int((value - _dt.date(1970, 1, 1)).days) % n_buckets
    if (
        isinstance(ktype, TimestampNTZType)
        and isinstance(value, _dt.datetime)
        and value.tzinfo is None
    ):
        # NTZ hashes the WALL-CLOCK micros, session-timezone-independent,
        # so a naive datetime is safe to hash driver-side. TimestampType
        # (and tz-aware values) deliberately take the Spark fallback:
        # Spark hashes session-timezone-adjusted UTC epoch micros there,
        # and a driver-side guess diverges on any non-UTC plain session —
        # the exact r13 silent-wrong-bucket trap (ADVICE r14). Micros use
        # integer timedelta fields: total_seconds() is float and only
        # microsecond-exact within ~±285 years of epoch.
        td = value - _dt.datetime(1970, 1, 1)
        micros = (td.days * 86400 + td.seconds) * 1_000_000 + td.microseconds
        return _xxh64_long(micros) % n_buckets
    return None


def _file_buckets(entry: dict) -> frozenset | None:
    """The set of hash buckets a manifest entry's file may contain —
    ``{entry['bucket']}`` (one-file-per-bucket layout), the recorded
    ``buckets`` group (rows_hint-adaptive layout), or None for files
    written without bucket info (which must always survive a prune)."""
    if "bucket" in entry:
        return frozenset((entry["bucket"],))
    if "buckets" in entry:
        return frozenset(entry["buckets"])
    return None


def _ranges_disjoint(stat_min, stat_max, lo, hi) -> bool:
    """True iff the persisted [stat_min, stat_max] cannot intersect the
    query bound [lo, hi]. Bounds are canonicalized through
    :func:`_json_scalar` (ADVICE r13: a date/timestamp bound used to
    TypeError against the stringified stat); a residual str-vs-numeric
    mismatch is a caller type error and raises with guidance instead of
    silently mis-pruning."""
    lo, hi = _json_scalar(lo), _json_scalar(hi)
    for bound in (lo, hi):
        if isinstance(stat_min, str) != isinstance(bound, str):
            raise ValueError(
                f"bound {bound!r} ({type(bound).__name__}) is not "
                f"comparable with recorded file stats "
                f"({type(stat_min).__name__}) — pass the column's own "
                "type (int/float/str/date/timestamp)"
            )
    return stat_max < lo or stat_min > hi


class TxnTable:
    """Handle on a transactional parquet table rooted at ``path``.

    >>> t = TxnTable.create(spark, path, df, key="o_orderkey")
    >>> t.append(more)              # snapshot 2
    >>> t.merge(updates)            # snapshot 3 (upsert on the key)
    >>> t.read()                    # latest
    >>> t.read(version=1)           # time travel
    >>> t.read(where={"price": (10, 20)})   # any-stats-column prune
    >>> t.history()                 # [{'version': 1, 'action': ...}]

    ``checkpoint_interval``: publish a log checkpoint every N commits
    (0 disables — every read then replays the full log, the pre-r14
    behavior kept for A/B probes)."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        checkpoint_interval: int = 10,
    ):
        self.spark = spark
        self.path = path
        self.checkpoint_interval = checkpoint_interval
        self._log = os.path.join(path, _LOG_DIR)

    # ---------------------------------------------------------- setup
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        df: DataFrame | None = None,
        key: str | None = None,
        n_buckets: int | None = None,
        checkpoint_interval: int = 10,
        cdf: bool = False,
    ) -> "TxnTable":
        """Initialize the table (version 1 = empty create or the given
        frame). ``key`` designates the stats/merge column recorded per
        data file; ``n_buckets`` fixes a hash-bucketed layout for the
        table's lifetime (see :meth:`_write_data`); ``cdf=True`` turns
        on WRITE-TIME change data feed (Delta's enableChangeDataFeed):
        every DML commit persists its own change rows (``cdf_add``
        manifest entries) so :meth:`change_feed` reads them back
        directly instead of re-diffing snapshots. Requires ``key``
        (changes are classified per key; appends assume key-unique
        batches, as in Delta CDC)."""
        if n_buckets is not None and key is None:
            raise ValueError("n_buckets requires a key column")
        if cdf and key is None:
            raise ValueError("cdf requires a key column")
        t = cls(spark, path, checkpoint_interval=checkpoint_interval)
        os.makedirs(t._log, exist_ok=True)
        os.makedirs(os.path.join(path, _DATA_DIR), exist_ok=True)
        if t.latest_version() > 0:
            raise ValueError(f"table already exists at {path}")
        adds = t._write_data(df, key, n_buckets) if df is not None else []
        schema = df.schema.json() if df is not None else None
        t._commit_with_retry(
            lambda snap: {"action": "create", "add": adds, "remove": [],
                          "key": key, "schema": schema,
                          "n_buckets": n_buckets, "cdf": cdf},
            max_retries=0,
        )
        return t

    # ------------------------------------------------------------ log
    def _ckpt_hint(self) -> int:
        """Advisory pointer to the newest checkpoint (the Delta
        ``_last_checkpoint`` file): lets head discovery and checkpoint
        lookup skip the O(commits) directory listing. Purely a hint —
        stale or missing values only cost speed, never correctness."""
        try:
            with open(os.path.join(self._log, "_last_ckpt.json")) as fh:
                return int(json.load(fh)["version"])
        except (FileNotFoundError, ValueError, KeyError,
                json.JSONDecodeError):
            return 0

    def latest_version(self) -> int:
        # O(suffix) head discovery: start at the newest checkpoint and
        # stat forward — commit files are contiguous by construction (a
        # writer can only publish v+1 after observing v). Without a
        # hint, fall back to the full listing.
        hint = self._ckpt_hint()
        if hint and os.path.exists(os.path.join(self._log, _V_FMT % hint)):
            v = hint
            while os.path.exists(
                os.path.join(self._log, _V_FMT % (v + 1))
            ):
                v += 1
            return v
        try:
            vs = [
                int(f[1:9])
                for f in os.listdir(self._log)
                if f.startswith("v") and f.endswith(".json")
            ]
        except FileNotFoundError:
            return 0
        return max(vs, default=0)

    def _load_commit(self, v: int) -> dict:
        p = os.path.join(self._log, _V_FMT % v)
        try:
            with open(p) as fh:
                return json.load(fh)
        except FileNotFoundError:
            raise ValueError(
                f"version {v} missing from log at {self._log}"
            ) from None

    def _read_log(self, version: int | None = None) -> list[dict]:
        """FULL commit replay from v1 — used only by the full-history
        APIs (:meth:`history`, :meth:`vacuum`); snapshot state goes
        through the checkpointed :meth:`_state_at` instead."""
        head = self.latest_version() if version is None else version
        return [self._load_commit(v) for v in range(1, head + 1)]

    def _latest_checkpoint(self, max_version: int) -> dict | None:
        """Newest published checkpoint at or below ``max_version``:
        O(1) via the ``_last_ckpt`` hint when it applies (every
        head-snapshot read); directory listing only for time travel
        BELOW the hinted checkpoint."""
        best = 0
        hint = self._ckpt_hint()
        if 0 < hint <= max_version:
            best = hint
        else:
            try:
                names = os.listdir(self._log)
            except FileNotFoundError:
                return None
            for f in names:
                if f.startswith("ckpt-v") and f.endswith(".json"):
                    v = int(f[6:14])
                    if best < v <= max_version:
                        best = v
        if not best:
            return None
        try:
            with open(os.path.join(self._log, _CKPT_FMT % best)) as fh:
                return json.load(fh)
        except (FileNotFoundError, json.JSONDecodeError):
            # a torn/garbage checkpoint must never break reads: fall
            # back to full replay (checkpoints are an index, not truth)
            return None

    def _state_at(self, version: int | None = None) -> dict:
        """Snapshot state {version, live, app_txn_ids, schema, key,
        n_buckets} = newest checkpoint <= target + SUFFIX replay —
        O(checkpoint_interval) commit reads instead of O(commits)."""
        head = self.latest_version() if version is None else version
        ckpt = self._latest_checkpoint(head)
        if ckpt is not None:
            live = {f["path"]: f for f in ckpt["live"]}
            txids = set(ckpt.get("app_txn_ids", []))
            state = {
                "schema": ckpt.get("schema"),
                "key": ckpt.get("key"),
                "n_buckets": ckpt.get("n_buckets"),
            }
            start = ckpt["version"] + 1
        else:
            live, txids = {}, set()
            state = {"schema": None, "key": None, "n_buckets": None}
            start = 1
        for v in range(start, head + 1):
            entry = self._load_commit(v)
            for rel in entry.get("remove", []):
                live.pop(rel, None)
            for add in entry.get("add", []):
                live[add["path"]] = add
            if entry.get("app_txn_id") is not None:
                txids.add(entry["app_txn_id"])
            if entry.get("schema"):
                state["schema"] = entry["schema"]
            if v == 1:
                state["key"] = entry.get("key")
                state["n_buckets"] = entry.get("n_buckets")
        state.update(version=head, live=live, app_txn_ids=txids)
        return state

    def _write_checkpoint(self, version: int) -> None:
        """Publish the checkpoint for ``version`` (put-if-absent like a
        commit; a concurrent writer's duplicate attempt is benign —
        the state is a deterministic function of the log). Failure is
        non-fatal by design: the commit already succeeded and the next
        multiple of the interval will try again."""
        try:
            st = self._state_at(version)
            body = {
                "version": version,
                "live": sorted(st["live"].values(), key=lambda f: f["path"]),
                "app_txn_ids": sorted(st["app_txn_ids"]),
                "schema": st["schema"],
                "key": st["key"],
                "n_buckets": st["n_buckets"],
            }
            tmp = os.path.join(self._log, f".tmp-{uuid.uuid4().hex}")
            final = os.path.join(self._log, _CKPT_FMT % version)
            with open(tmp, "w") as fh:
                json.dump(body, fh, sort_keys=True)
                fh.flush()
                os.fsync(fh.fileno())
            try:
                os.link(tmp, final)
            except FileExistsError:
                pass
            finally:
                os.unlink(tmp)
            # advance the _last_ckpt hint (monotone; os.replace is
            # atomic). A lost race between two pointers only leaves a
            # slightly stale hint — advisory by contract.
            if self._ckpt_hint() < version:
                htmp = os.path.join(
                    self._log, f".tmp-hint-{uuid.uuid4().hex}"
                )
                with open(htmp, "w") as fh:
                    json.dump({"version": version}, fh)
                os.replace(htmp, os.path.join(self._log, "_last_ckpt.json"))
        except OSError:
            pass

    def _live_files(self, version: int | None = None) -> list[dict]:
        return list(self._state_at(version)["live"].values())

    def history(self) -> list[dict]:
        """Commit metadata per version (action, file/row deltas, key).
        Full-history API: replays every commit by definition."""
        return [
            {
                "version": e["version"],
                "action": e["action"],
                "n_added_files": len(e.get("add", [])),
                "n_removed_files": len(e.get("remove", [])),
                "n_added_rows": sum(a["rows"] for a in e.get("add", [])),
                "key": e.get("key"),
            }
            for e in self._read_log()
        ]

    def table_key(self) -> str | None:
        # key/n_buckets are fixed at create: one O(1) commit read
        return self._load_commit(1).get("key") if self.latest_version() else None

    def table_buckets(self) -> int | None:
        if not self.latest_version():
            return None
        return self._load_commit(1).get("n_buckets")

    def table_cdf(self) -> bool:
        """Whether write-time change data feed is on (fixed at create)."""
        if not self.latest_version():
            return False
        return bool(self._load_commit(1).get("cdf"))

    def _schema_at(self, version: int | None = None):
        """Latest recorded Spark schema at or before ``version`` (None
        when no commit carried one)."""
        from pyspark.sql.types import StructType

        sj = self._state_at(version)["schema"]
        return StructType.fromJson(json.loads(sj)) if sj else None

    # ----------------------------------------------------------- data
    def _write_data(
        self,
        df: DataFrame,
        key: str | None,
        n_buckets: int | None = None,
        rows_hint: int | None = None,
        candidate_buckets: set | None = None,
    ) -> list[dict]:
        """Write a frame as immutable parquet under ``data/<uuid>/``;
        return add-entries with per-file row counts, key min/max (from
        the parquet footers — no data read), and a per-column ``stats``
        map over the leading :data:`_MAX_STATS_COLS` leaf scalar
        columns (the generalized data-skipping index).

        ``n_buckets``: hash-bucketed LAYOUT — rows land in
        ``__bucket=pmod(xxhash64(key), n)`` partition dirs and each
        manifest entry records its bucket. Range stats skip files for
        time-clustered keys; buckets skip files for UNIFORM keys (a
        small merge batch touches at most |batch| buckets), the
        complementary half of write-amplification control.

        ``rows_hint``: upper bound on the frame's row count, when the
        caller knows one WITHOUT an extra job (merge: manifest row
        counts of the hit files + the source count that rides the
        existing min/max job; compact: manifest row counts). A small
        commit then writes ``ceil(hint / _TARGET_FILE_ROWS)`` files
        instead of one per bucket — each file holds the deterministic
        bucket group ``{b : b mod n_files == g}``, recorded as a
        ``buckets`` list so every prune stays exact (r15, guide §6
        small-files / VERDICT r14 #5: a bucketed streaming upsert wrote
        n_buckets near-empty files + manifest entries per micro-batch).
        ``None`` keeps the one-file-per-bucket layout (create/append:
        explicit layout contracts, no free count available).

        ``candidate_buckets``: a PROVEN superset of the buckets present
        in ``df`` (merge: source buckets ∪ hit-file buckets), used to
        intersect each grouped file's recorded ``buckets`` list so
        point lookups on uninvolved keys keep skipping it."""
        from pyspark.sql.types import TimestampNTZType, TimestampType

        sub = os.path.join(_DATA_DIR, uuid.uuid4().hex)
        out_dir = os.path.join(self.path, sub)
        # Spark's default INT96 timestamps carry NO parquet statistics —
        # write the modern TIMESTAMP_MICROS encoding (readers handle
        # both) whenever the frame has a timestamp column, or timestamp
        # keys silently lose all data skipping. The flip only changes
        # physical encoding, so a concurrent writer observing it
        # mid-flight is benign.
        has_ts = any(
            isinstance(f.dataType, (TimestampType, TimestampNTZType))
            for f in df.schema.fields
        )
        confs = (
            {"spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS"}
            if has_ts
            else {}
        )
        with scoped_conf(self.spark, confs):
            return self._write_files(
                df, key, n_buckets, sub, out_dir, rows_hint, candidate_buckets
            )

    def _write_files(
        self,
        df: DataFrame,
        key: str | None,
        n_buckets: int | None,
        sub: str,
        out_dir: str,
        rows_hint: int | None = None,
        candidate_buckets: set | None = None,
    ) -> list[dict]:
        import pyarrow.parquet as pq

        if n_buckets and key is not None:
            from pyspark.sql import functions as F

            n_files = n_buckets
            if rows_hint is not None:
                n_files = max(
                    1,
                    min(
                        n_buckets,
                        -(-int(rows_hint) // _TARGET_FILE_ROWS),
                    ),
                )
            bucket = F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets))
            part_col = "__bucket" if n_files == n_buckets else "__bg"
            part_expr = (
                bucket if n_files == n_buckets else F.pmod(bucket, F.lit(n_files))
            )
            (
                df.withColumn(part_col, part_expr)
                # repartition ON the partition column first: without it,
                # partitionBy splits EVERY upstream task per bucket —
                # tasks x buckets files (measured 64x64=4096 on a 15M-row
                # create); with it, one file per non-empty bucket group.
                .repartition(n_files, part_col)
                .write.partitionBy(part_col)
                .parquet(out_dir)
            )
            parts = []
            for d in sorted(os.listdir(out_dir)):
                if d.startswith(f"{part_col}="):
                    g = int(d.split("=", 1)[1])
                    # single-bucket file: plain int (the r13 manifest
                    # format, unchanged); grouped file: the deterministic
                    # bucket set {b : b mod n_files == g} as a list —
                    # over-inclusive for buckets empty in this file,
                    # which is safe (stats are an index, not truth).
                    cand = (
                        range(n_buckets)
                        if candidate_buckets is None
                        else sorted(candidate_buckets)
                    )
                    tag = (
                        g
                        if n_files == n_buckets
                        else [b for b in cand if b % n_files == g]
                    )
                    for f in sorted(
                        os.listdir(os.path.join(out_dir, d))
                    ):
                        parts.append((os.path.join(d, f), tag))
        else:
            df.write.parquet(out_dir)
            parts = [(f, None) for f in sorted(os.listdir(out_dir))]
        adds = []
        for f, bucket in parts:
            if not f.endswith(".parquet"):
                continue
            rel = os.path.join(sub, f)
            meta = pq.ParquetFile(os.path.join(self.path, rel)).metadata
            if meta.num_rows == 0:
                # Spark writes one file per partition including empty
                # ones — referencing them bloats manifests for nothing
                os.unlink(os.path.join(self.path, rel))
                continue
            entry: dict = {"path": rel, "rows": meta.num_rows}
            if isinstance(bucket, list):
                entry["buckets"] = bucket
            elif bucket is not None:
                entry["bucket"] = bucket
            col_idx = {
                meta.schema.column(i).name: i
                for i in range(meta.num_columns)
                # leaf scalar columns only: nested fields arrive as
                # dotted paths ("emb.list.element") — not prunable here
                if "." not in meta.schema.column(i).name
            }
            stats: dict[str, dict] = {}
            for name, idx in list(col_idx.items())[:_MAX_STATS_COLS]:
                mins, maxs = [], []
                for rg in range(meta.num_row_groups):
                    st = meta.row_group(rg).column(idx).statistics
                    if st is None or not st.has_min_max:
                        mins, maxs = [], []
                        break
                    mins.append(st.min)
                    maxs.append(st.max)
                if not mins:
                    continue
                mn, mx = _json_scalar(min(mins)), _json_scalar(max(maxs))
                if any(
                    isinstance(v, str) and len(v) >= _MAX_STAT_STR
                    for v in (mn, mx)
                ):
                    continue  # possible writer-side truncation: unsafe
                stats[name] = {"min": mn, "max": mx}
            if stats:
                entry["stats"] = stats
            if key is not None and key in stats:
                # legacy key-stat fields (r13 manifests / merge prune)
                entry["min"] = stats[key]["min"]
                entry["max"] = stats[key]["max"]
            adds.append(entry)
        return adds

    # --------------------------------------------------------- commit
    def _try_publish(self, version: int, payload: dict) -> bool:
        """Put-if-absent publication of one commit file. True on win."""
        tmp = os.path.join(self._log, f".tmp-{uuid.uuid4().hex}")
        final = os.path.join(self._log, _V_FMT % version)
        with open(tmp, "w") as fh:
            json.dump(payload, fh, sort_keys=True)
            fh.flush()
            os.fsync(fh.fileno())
        try:
            os.link(tmp, final)  # atomic, fails iff version exists
            return True
        except FileExistsError:
            return False
        finally:
            os.unlink(tmp)

    def _commit_with_retry(self, build, max_retries: int = 10) -> int:
        """Optimistic-concurrency loop: ``build(snapshot_version)``
        returns the commit body computed AGAINST that snapshot — or
        ``None`` to abort as a no-op (e.g. an app_txn_id found already
        committed on revalidation); losing the publication race
        re-reads the log and rebuilds. Returns the committed (or, on a
        no-op, the observed) version."""
        for _ in range(max_retries + 1):
            snap = self.latest_version()
            body = build(snap)
            if body is None:
                return snap
            body["version"] = snap + 1
            body["parent"] = snap
            if self._try_publish(snap + 1, body):
                if (
                    self.checkpoint_interval
                    and (snap + 1) % self.checkpoint_interval == 0
                ):
                    self._write_checkpoint(snap + 1)
                return snap + 1
        raise CommitConflict(
            f"lost the commit race {max_retries + 1} times at {self.path}"
        )

    def committed_app_txn_ids(self) -> set[str]:
        """All ``app_txn_id`` markers in the log — the exactly-once
        handshake for streaming writers: a foreachBatch sink passes
        ``app_txn_id=f"{query_id}:{epoch_id}"`` and SKIPS batches whose
        id is already committed, so a micro-batch REPLAY after a
        failure cannot double-apply (the Delta idempotent-writes
        txnAppId/txnVersion pattern). Checkpointed: cost is the ckpt
        load + suffix, not the writer-lifetime O(commits^2)."""
        return self._state_at()["app_txn_ids"]

    # ------------------------------------------------------------ DML
    def append(self, df: DataFrame, app_txn_id: str | None = None) -> int:
        """Add rows; commutes with concurrent appends (data files are
        written once, only the log retries). ``app_txn_id``: skip (and
        return the current version) if this application transaction is
        already committed — see :meth:`committed_app_txn_ids`. The id
        is REVALIDATED against each retry's fresh snapshot, so two
        concurrent writers replaying the same epoch cannot both apply
        (ADVICE r13)."""
        if app_txn_id is not None and app_txn_id in self.committed_app_txn_ids():
            return self.latest_version()
        key = self.table_key()
        adds = self._write_data(df, key, self.table_buckets())
        schema = df.schema.json()

        cdf = self.table_cdf()

        def build(snap: int) -> dict | None:
            if (
                app_txn_id is not None
                and app_txn_id in self._state_at(snap)["app_txn_ids"]
            ):
                return None
            body = {"action": "append", "add": adds, "remove": [],
                    "key": key, "schema": schema,
                    "app_txn_id": app_txn_id}
            if cdf:
                # insert-only commit: the change rows ARE the add files
                # (Delta CDC's insert-only derivation — no extra copy).
                # Contract: cdf appends are key-unique batches of NEW
                # keys; re-appending a live key is a merge's job.
                body["cdf_from_add"] = True
            return body

        return self._commit_with_retry(build)

    def overwrite(self, df: DataFrame) -> int:
        """Replace the table contents atomically (readers at older
        versions still see their snapshot). On a ``cdf=True`` table the
        commit also persists its change rows — the full key-diff of the
        replaced snapshot vs the new contents, computed ONCE at write
        time instead of by every downstream feed reader."""
        key = self.table_key()
        adds = self._write_data(df, key, self.table_buckets())
        schema = df.schema.json()
        cdf = self.table_cdf()

        def build(snap: int) -> dict:
            body = {
                "action": "overwrite",
                "add": adds,
                "remove": [f["path"] for f in self._live_files(snap)],
                "key": key,
                "schema": schema,
            }
            if cdf:
                body["cdf_add"] = self._write_data(
                    self._diff_frames(self.read(version=snap), df, key),
                    None, None,
                )
            return body

        return self._commit_with_retry(build)

    def merge(
        self,
        source: DataFrame,
        key: str | None = None,
        app_txn_id: str | None = None,
    ) -> int:
        """MERGE upsert: target rows whose key matches a source row are
        replaced by the source row; unmatched source rows insert;
        everything else is untouched. File-skipping: only live files
        whose [min,max] key range intersects the source's range AND
        (for a bucketed table) whose hash bucket appears in the source
        are rewritten — range stats prune for time-clustered keys,
        buckets prune for uniform keys; together write amplification is
        bounded by the SMALLER of key clustering and batch cardinality.
        ``app_txn_id``: exactly-once skip, revalidated per retry — see
        :meth:`append`."""
        from pyspark.sql import functions as F

        if app_txn_id is not None and app_txn_id in self.committed_app_txn_ids():
            return self.latest_version()
        key = key or self.table_key()
        if key is None:
            raise ValueError("merge needs a key column (create(..., key=))")
        # align the source key dtype with the table's recorded type:
        # xxhash64 bucketing is TYPE-sensitive (an int32 batch key would
        # hash into the wrong bucket and the prune would MISS the
        # rewrite — a lost update, not a slow one)
        st = self._schema_at()
        ktype = st[key].dataType if st is not None and key in st.fieldNames() else None
        if ktype is not None and source.schema[key].dataType != ktype:
            source = source.withColumn(key, F.col(key).cast(ktype))

        def build(snap: int) -> dict | None:
            state = self._state_at(snap)
            if (
                app_txn_id is not None
                and app_txn_id in state["app_txn_ids"]
            ):
                return None
            live = list(state["live"].values())
            schema = source.schema.json()
            # the source count rides the min/max job (no extra job) and
            # bounds the rewrite's rows for the adaptive file layout
            row = source.agg(
                F.min(key).alias("lo"),
                F.max(key).alias("hi"),
                F.count(F.lit(1)).alias("n"),
            ).collect()[0]
            lo, hi = row["lo"], row["hi"]
            cdf = self.table_cdf()
            if lo is None:  # empty source: no-op commit
                body = {"action": "merge", "add": [], "remove": [],
                        "key": key, "schema": schema,
                        "app_txn_id": app_txn_id}
                if cdf:
                    body["cdf_add"] = []
                return body
            n_buckets = self.table_buckets()
            src_buckets: set[int] | None = None
            if n_buckets:
                # bucket pruning for UNIFORM keys: a source key's file
                # can only live in that key's hash bucket, so files in
                # other buckets survive by reference. The distinct-
                # bucket collect is bounded by n_buckets.
                src_buckets = {
                    r["b"]
                    for r in source.select(
                        F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets))
                        .alias("b")
                    )
                    .distinct()
                    .collect()
                }
            hit = [
                f for f in live
                if (
                    "min" not in f
                    or not _ranges_disjoint(f["min"], f["max"], lo, hi)
                )
                and (
                    src_buckets is None
                    or _file_buckets(f) is None
                    or not src_buckets.isdisjoint(_file_buckets(f))
                )
            ]
            hit_paths = [f["path"] for f in hit]
            if hit_paths:
                cur = self.spark.read.option("mergeSchema", "true").parquet(
                    *[os.path.join(self.path, p) for p in hit_paths]
                )
                # allowMissingColumns: schema evolution — a source batch
                # carrying a new column upserts with NULLs for kept rows
                out = cur.join(source, key, "left_anti").unionByName(
                    source, allowMissingColumns=True
                )
            else:
                out = source
            # upper bound: the anti-join only removes hit-file rows
            hint = int(row["n"]) + sum(f["rows"] for f in hit)
            cand: set | None = None
            if src_buckets is not None:
                hit_buckets = [_file_buckets(f) for f in hit]
                if all(b is not None for b in hit_buckets):
                    # proven superset of the rewrite's buckets
                    cand = set(src_buckets).union(*hit_buckets) if hit_buckets else set(src_buckets)
            adds = self._write_data(
                out, key, n_buckets, rows_hint=hint, candidate_buckets=cand
            )
            body = {"action": "merge", "add": adds, "remove": hit_paths,
                    "key": key, "schema": schema,
                    "app_txn_id": app_txn_id}
            if cdf:
                # write-time CDF: the merge already holds both row sets
                # (pre-image = the hit files, post-image = the rewrite),
                # so the change rows cost one extra diff-join at write
                # time and ZERO snapshot scans for every feed reader.
                prev_scope = cur if hit_paths else source.limit(0)
                body["cdf_add"] = self._write_data(
                    self._diff_frames(prev_scope, out, key), None, None
                )
            return body

        return self._commit_with_retry(build)

    def compact(
        self, target_files: int = 1, cluster_by: str | None = None
    ) -> int:
        """OPTIMIZE-style compaction: rewrite the current live file set
        into ``target_files`` files — same rows, one snapshot commit
        (action "compact"), so readers at older versions still see the
        small-files layout and concurrent writers conflict-detect
        normally. The small-files problem is the tax every streaming
        ingest pays (one parquet per micro-batch); compaction is how a
        log-structured table stays scan-efficient at 100 TB.

        ``cluster_by``: range-cluster the rewrite on that column
        (``repartitionByRange``) so each output file covers a tight
        value slice — the OPTIMIZE ZORDER-lite that RESTORES per-column
        data-skipping locality after merges scatter it. With
        ``cluster_by`` the rewrite is never skipped (re-clustering the
        same file count is the point)."""
        key = self.table_key()

        cdf = self.table_cdf()

        def build(snap: int) -> dict:
            live = self._live_files(snap)
            if len(live) <= target_files and cluster_by is None:
                body = {"action": "compact", "add": [], "remove": [],
                        "key": key}
            else:
                cur = self.spark.read.option(
                    "mergeSchema", "true"
                ).parquet(
                    *[os.path.join(self.path, f["path"]) for f in live]
                )
                shaped = (
                    cur.repartitionByRange(target_files, cluster_by)
                    if cluster_by is not None
                    else cur.coalesce(target_files)
                )
                fb = [_file_buckets(f) for f in live]
                adds = self._write_data(
                    shaped,
                    key,
                    self.table_buckets(),
                    # exact: the manifests record every live file's rows
                    rows_hint=sum(f["rows"] for f in live),
                    candidate_buckets=(
                        set().union(*fb) if fb and all(fb) else None
                    ),
                )
                body = {"action": "compact", "add": adds,
                        "remove": [f["path"] for f in live], "key": key,
                        "schema": cur.schema.json()}
            if cdf:
                body["cdf_add"] = []  # layout-only commit: zero changes
            return body

        return self._commit_with_retry(build)

    # ----------------------------------------------------------- read
    def read(
        self,
        version: int | None = None,
        key_between: tuple | None = None,
        where: dict[str, tuple] | None = None,
    ) -> DataFrame:
        """Snapshot read (latest, or time travel to ``version``).

        ``key_between=(lo, hi)``: MANIFEST-level data skipping on the
        designated key — files whose recorded [min,max] key range (and
        hash bucket, when lo == hi on a bucketed table) cannot contain
        the range are excluded BEFORE Spark ever lists them, then the
        residual predicate is applied row-wise (parquet row-group
        pruning still applies inside surviving files).

        ``where={col: (lo, hi), ...}``: the same prune generalized to
        ANY column with recorded per-file stats (files without stats
        for a column always survive — stats are an index, not truth).
        This is the Delta data-skipping read path: at 100 TB the
        manifest prune is the difference between opening thousands of
        files and opening three."""
        head = self.latest_version()
        if head == 0:
            raise ValueError(f"no table at {self.path}")
        if version is not None and not 1 <= version <= head:
            raise ValueError(f"version {version} not in [1, {head}]")
        files = self._live_files(version)
        key = self.table_key()
        bounds: dict[str, tuple] = dict(where or {})
        if key_between is not None:
            if key is None:
                raise ValueError("key_between needs a key column")
            bounds[key] = key_between
        for col, (lo, hi) in bounds.items():
            files = [
                f for f in files
                if _stats_of(f, col, key) is None
                or not _ranges_disjoint(*_stats_of(f, col, key), lo, hi)
            ]
        if key_between is not None:
            lo, hi = key_between
            n_buckets = self.table_buckets()
            if n_buckets and lo == hi:
                # point lookup on a bucketed table: only the key's own
                # hash bucket can hold it. xxhash64 is TYPE-sensitive
                # (int32 vs int64 literals hash differently), so the
                # literal must carry the key column's recorded type.
                from pyspark.sql import functions as F

                st = self._schema_at(version)
                ktype = (
                    st[key].dataType
                    if st is not None and key in st.fieldNames()
                    else None
                )
                if ktype is not None:
                    # driver-side Spark-compatible xxh64 (no job); the
                    # spark.range(1) fallback covers exotic key types
                    b = _bucket_of_literal(lo, ktype, n_buckets)
                    if b is None:
                        b = (
                            self.spark.range(1)
                            .select(
                                F.pmod(
                                    F.xxhash64(F.lit(lo).cast(ktype)),
                                    F.lit(n_buckets),
                                ).alias("b")
                            )
                            .collect()[0]["b"]
                        )
                    files = [
                        f for f in files
                        if _file_buckets(f) is None or b in _file_buckets(f)
                    ]
        if not files:
            # empty snapshot (empty create, everything removed, or the
            # prune excluded every file): return a typed zero-row frame
            # from the last schema the log recorded at or before this
            # version — "a filter eliminated everything" is a daily
            # event at scale, not an error.
            st = self._schema_at(version)
            if st is None:
                raise ValueError(
                    f"snapshot {version or head} is empty and no commit "
                    "recorded a schema"
                )
            out = local_frame(self.spark, [], st)
        else:
            # mergeSchema: live files may span schema evolution (a column
            # added by a later append/merge) — absent columns read as NULL
            out = self.spark.read.option("mergeSchema", "true").parquet(
                *[os.path.join(self.path, f["path"]) for f in files]
            )
        if bounds:
            from pyspark.sql import functions as F

            # residual row-wise bound: surviving files may hold rows
            # outside the range (pushed into the parquet scan)
            for col, (lo, hi) in bounds.items():
                out = out.where(F.col(col).between(lo, hi))
        return out

    def _diff_frames(
        self, prev: DataFrame, cur: DataFrame, key: str
    ) -> DataFrame:
        """Key-diff two row sets into change rows ``(key, *cols,
        _change_type)``: ``insert`` / ``update_postimage`` / ``delete``
        (deletes carry the pre-image). Update detection is an OR of
        per-column null-safe inequality (``eqNullSafe``) —
        collision-free and immune to the hash-skips-NULL column-swap
        trap (ADVICE r13). Shared by snapshot-diff :meth:`change_feed`
        and the write-time CDF persisted at commit time."""
        from pyspark.sql import functions as F

        cols = sorted((set(prev.columns) | set(cur.columns)) - {key})
        # dtype per column from whichever side has it: evolution-null
        # columns must be TYPED (an untyped NullType column cannot be
        # persisted to parquet by the write-time CDF)
        dtypes = {}
        for side in (prev, cur):
            for f in side.schema.fields:
                dtypes.setdefault(f.name, f.dataType)

        def norm(df, tag):
            out = df
            for c in cols:
                if c not in df.columns:
                    out = out.withColumn(c, F.lit(None).cast(dtypes[c]))
            return out.select(
                F.col(key).alias(f"__{tag}_k"),
                *[F.col(c).alias(f"__{tag}_{c}") for c in cols],
            )

        j = norm(cur, "c").join(
            norm(prev, "p"),
            F.col("__c_k").eqNullSafe(F.col("__p_k")),
            "full_outer",
        )
        changed = F.lit(False)
        for c in cols:
            changed = changed | ~F.col(f"__c_{c}").eqNullSafe(
                F.col(f"__p_{c}")
            )
        typed = j.withColumn(
            "_change_type",
            F.when(F.col("__p_k").isNull(), F.lit("insert"))
            .when(F.col("__c_k").isNull(), F.lit("delete"))
            .when(changed, F.lit("update_postimage")),
        ).where(F.col("_change_type").isNotNull())
        # deletes carry the pre-image; inserts/updates the post-image
        pick = [
            F.coalesce(F.col("__c_k"), F.col("__p_k")).alias(key),
            *[
                F.when(
                    F.col("_change_type") == "delete", F.col(f"__p_{c}")
                )
                .otherwise(F.col(f"__c_{c}"))
                .alias(c)
                for c in cols
            ],
            "_change_type",
        ]
        return typed.select(*pick)

    def change_feed(
        self, from_version: int, to_version: int | None = None
    ) -> DataFrame:
        """Row-level CHANGE DATA FEED between snapshots (the Delta CDF
        concept): one row per change in versions (from_version,
        to_version] with ``_change_type`` (``insert`` /
        ``update_postimage`` / ``delete`` — deletes carry the
        pre-image) and ``_commit_version``. Downstream incremental
        consumers process ONLY what changed instead of rescanning the
        table — the property that makes a 100-TB nightly pipeline
        incremental.

        Two sources, per version: a ``cdf=True`` table PERSISTED its
        change rows at commit time (``cdf_add`` manifest entries —
        Delta's enableChangeDataFeed), so the feed is a plain parquet
        read of exactly the change rows; otherwise the version is
        reconstructed by key-diffing its snapshot against the previous
        one (two scans + a key-join — correct but the expensive path,
        which is why cdf=True is the production mode)."""
        from pyspark.sql import functions as F

        key = self.table_key()
        if key is None:
            raise ValueError("change_feed needs a key column")
        head = self.latest_version()
        to_version = head if to_version is None else to_version
        if not 1 <= from_version < to_version <= head:
            raise ValueError(
                f"empty or bad version range ({from_version}, "
                f"{to_version}] (head {head})"
            )
        frames = []
        for v in range(from_version + 1, to_version + 1):
            entry = self._load_commit(v)
            if entry.get("cdf_from_add"):
                # insert-only commit: change rows derived from the add
                # files themselves (no persisted copy needed)
                paths = [
                    os.path.join(self.path, a["path"])
                    for a in entry.get("add", [])
                ]
                if not paths:
                    continue
                fdf = self.spark.read.option(
                    "mergeSchema", "true"
                ).parquet(*paths).withColumn(
                    "_change_type", F.lit("insert")
                )
            elif "cdf_add" in entry:
                paths = [
                    os.path.join(self.path, a["path"])
                    for a in entry["cdf_add"]
                ]
                if not paths:
                    continue  # commit recorded zero changes (compact)
                fdf = self.spark.read.option(
                    "mergeSchema", "true"
                ).parquet(*paths)
            else:
                fdf = self._diff_frames(
                    self.read(version=v - 1), self.read(version=v), key
                )
            frames.append(
                fdf.withColumn(
                    "_commit_version", F.lit(v).cast("int")
                )
            )
        if not frames:
            from pyspark.sql.types import (
                IntegerType,
                StringType,
                StructField,
                StructType,
            )

            st = self._schema_at(to_version) or StructType([])
            return local_frame(
                self.spark,
                [],
                StructType(
                    st.fields
                    + [
                        StructField("_change_type", StringType()),
                        StructField("_commit_version", IntegerType()),
                    ]
                ),
            )
        out = frames[0]
        for fdf in frames[1:]:
            out = out.unionByName(fdf, allowMissingColumns=True)
        return out

    # --------------------------------------------------------- vacuum
    def vacuum(
        self,
        retain_from_version: int,
        orphans: bool = False,
        orphan_grace_sec: float = 3600.0,
    ) -> list[str]:
        """Delete data files not referenced by ANY snapshot >=
        ``retain_from_version`` (the latest snapshot is ALWAYS
        retained — ``retain_from_version`` above the head is rejected,
        ADVICE r13). Time travel below the cutoff is forfeited —
        exactly Delta VACUUM's trade. Returns the deleted relative
        paths.

        ``orphans=True`` additionally removes data files referenced by
        NO log entry at all — the staged-but-never-committed leftovers
        of lost commit races — but only those older than
        ``orphan_grace_sec`` (a concurrent writer's staged files look
        identical until its commit publishes; the grace window is the
        standard uncommitted-file retention guard). Empty data dirs are
        pruned under the SAME guard: only with ``orphans=True``, only
        past the grace window, and never while a ``_temporary`` dir
        shows an in-flight Spark write (ADVICE r13 — the unconditional
        prune could destroy a racing writer's staged output)."""
        import time as _time

        head = self.latest_version()
        if not 1 <= retain_from_version <= head:
            raise ValueError(
                f"retain_from_version {retain_from_version} not in "
                f"[1, {head}] — the latest snapshot is always retained"
            )
        keep: set[str] = {f["path"] for f in self._live_files(head)}
        for v in range(retain_from_version, head + 1):
            keep.update(f["path"] for f in self._live_files(v))
        dropped = []
        for entry in self._read_log():
            if entry["version"] >= retain_from_version:
                # retained versions keep their persisted change rows
                # (the feed below the cutoff is forfeited with the
                # snapshots, exactly like time travel)
                keep.update(a["path"] for a in entry.get("cdf_add", []))
        for entry in self._read_log():
            for add in entry.get("add", []) + entry.get("cdf_add", []):
                rel = add["path"]
                if rel not in keep:
                    p = os.path.join(self.path, rel)
                    if os.path.exists(p):
                        os.unlink(p)
                        dropped.append(rel)
        droot = os.path.join(self.path, _DATA_DIR)
        if orphans:
            referenced = {
                add["path"]
                for e in self._read_log()
                for add in e.get("add", []) + e.get("cdf_add", [])
            }
            now = _time.time()
            for d in sorted(os.listdir(droot)):
                full = os.path.join(droot, d)
                if not os.path.isdir(full):
                    continue
                for f in sorted(os.listdir(full)):
                    rel = os.path.join(_DATA_DIR, d, f)
                    p = os.path.join(full, f)
                    if (
                        rel not in referenced
                        and os.path.isfile(p)
                        and now - os.path.getmtime(p) >= orphan_grace_sec
                    ):
                        os.unlink(p)
                        dropped.append(rel)
            # prune now-empty data dirs — orphan rules apply verbatim
            for d in os.listdir(droot):
                full = os.path.join(droot, d)
                if (
                    os.path.isdir(full)
                    and not any(
                        f.endswith(".parquet") or f == "_temporary"
                        for f in os.listdir(full)
                    )
                    and now - os.path.getmtime(full) >= orphan_grace_sec
                ):
                    shutil.rmtree(full, ignore_errors=True)
        return sorted(dropped)


def _stats_of(f: dict, col: str, key: str | None):
    """(min, max) recorded for ``col`` in a manifest entry, falling back
    to the legacy key-stat fields for r13-era manifests; None = no
    stats (the file always survives pruning)."""
    s = f.get("stats", {}).get(col)
    if s is not None:
        return s["min"], s["max"]
    if col == key and "min" in f:
        return f["min"], f["max"]
    return None
