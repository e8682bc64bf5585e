"""Streaming SOURCE over the transactional table's commit log — the
"stream from a Delta table" concept: each commit's ADDED FILES become
streamable input, offsets are commit versions, and the reader is a
Spark 4 Python DataSourceStreamReader whose partitions are the added
files themselves (one task per file, executors read parquet via
pyarrow — the driver only lists the JSON log).

Semantics (same contract as Delta's table-as-a-source):

- **append-only history streams exactly**: every emitted row is a new
  row, tagged ``_commit_version`` / ``_commit_action``;
- **merge/overwrite/compact commits emit their rewritten files'
  rows** (kept + new together) — the documented ``ignoreChanges``
  caveat: a rewritten row re-appears downstream, so consumers of
  update-heavy tables should read :meth:`TxnTable.change_feed`
  between versions instead;
- offsets are ``{"version": N}``; a restart resumes from the last
  committed version (Spark's offset log stores the dict);
- **admission control**: ``maxVersionsPerTrigger`` caps how many
  commit versions one micro-batch may ingest, and
  ``maxFilesPerTrigger`` caps the batch by ADDED-FILE count (whole
  versions only; at least one version always admitted so an oversized
  commit cannot stall the stream — Delta's approximate semantics).
  Without them a cold start or backfill lands the entire table history
  as ONE batch (VERDICT r13 #2). The
  Python ``latestOffset()`` receives no start offset, so the cap is
  relative to a reader-tracked base, safe in BOTH lifecycles
  (call-order traced empirically on 4.1):

  * cold start — ``latestOffset`` precedes ``initialOffset``, but no
    offset has ever been committed, so capping from ``fromVersion``
    cannot rewind anything;
  * restart — the engine re-plans the last write-ahead-log batch via
    ``partitions(start, end)`` BEFORE the first ``latestOffset``
    (the same load-bearing engine behavior Spark's own
    ``_SimpleStreamReaderWrapper`` documents depending on), which
    seeds the base at the logged end offset; every batch is capped
    and the returned offset can never fall below the committed one
    (a regressed offset would rewind the stream into duplicates).

  Engine caveat: ``Trigger.AvailableNow`` falls back to
  single-batch execution for Python sources (4.1 warns and treats it
  as ``Trigger.Once``), so with a cap each availableNow RUN advances
  at most ``maxVersionsPerTrigger`` versions; a ``processingTime``
  trigger drains a backlog in consecutive capped batches.

Scale: ``latestOffset`` is one directory listing; ``partitions`` is
pure manifest arithmetic; all data bytes move executor-side.
"""

from __future__ import annotations

import json
import os
import sys
from typing import Iterator, Sequence

from pyspark import cloudpickle
from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from pyblazing_spark.sources.txn_table import _LOG_DIR, _V_FMT

# Spark plans a Python stream source in its own Python process, which
# does not see the package zip that session._ship_package adds with
# addPyFile: a source pickled by reference fails there with
# ModuleNotFoundError whenever the driver's working directory is not the
# repo root. Pickled by value, the source carries its own code and the
# two log-layout constants above.
cloudpickle.register_pickle_by_value(sys.modules[__name__])


def _log_entries(path: str, lo: int, hi: int) -> list[dict]:
    """Commit bodies for versions in (lo, hi] — missing files raise
    (the log is append-only and gap-free by construction)."""
    out = []
    for v in range(lo + 1, hi + 1):
        with open(os.path.join(path, _LOG_DIR, _V_FMT % v)) as fh:
            out.append(json.load(fh))
    return out


def _latest_version(path: str) -> int:
    try:
        return max(
            (
                int(f[1:9])
                for f in os.listdir(os.path.join(path, _LOG_DIR))
                if f.startswith("v") and f.endswith(".json")
            ),
            default=0,
        )
    except FileNotFoundError:
        return 0


def _table_schema(path: str) -> StructType:
    """Latest data schema recorded in the log."""
    head = _latest_version(path)
    schema_json = None
    for e in _log_entries(path, 0, head):
        if e.get("schema"):
            schema_json = e["schema"]
    if schema_json is None:
        raise ValueError(f"no schema recorded in the log at {path}")
    return StructType.fromJson(json.loads(schema_json))


def _pa_type(dt):
    """Spark type -> pyarrow type for evolution-null columns (the
    common scalar types the table format writes)."""
    import pyarrow as pa

    m = {
        "long": pa.int64(),
        "integer": pa.int32(),
        "short": pa.int16(),
        "double": pa.float64(),
        "float": pa.float32(),
        "string": pa.string(),
        "boolean": pa.bool_(),
        "date": pa.date32(),
        "timestamp": pa.timestamp("us"),
        "binary": pa.binary(),
    }
    return m.get(dt.typeName(), pa.string())


class TxnFilePartition(InputPartition):
    def __init__(self, abs_path: str, version: int, action: str):
        self.abs_path = abs_path
        self.version = version
        self.action = action


class TxnStreamReader(DataSourceStreamReader):
    def __init__(self, options: dict, schema: StructType):
        self.path = options["path"]
        self.start_version = int(options.get("fromversion", 0))
        self.max_versions = int(options.get("maxversionspertrigger", 0))
        self.max_files = int(options.get("maxfilespertrigger", 0))
        #: highest offset this reader instance knows was handed to the
        #: engine — the admission-control base. None only before any
        #: call; a restart seeds it through the engine's WAL-batch
        #: re-plan (partitions) before the first latestOffset — see
        #: module docstring.
        self._last_seen: int | None = None
        self.schema = schema
        # data fields = everything except the two metadata columns
        self.fields = [
            f for f in schema.fields
            if f.name not in ("_commit_version", "_commit_action")
        ]

    def initialOffset(self) -> dict:
        self._last_seen = self.start_version
        return {"version": self.start_version}

    def latestOffset(self) -> dict:
        head = _latest_version(self.path)
        # base = last engine-visible offset; on a true cold start
        # (nothing seeded — nothing committed) the stream begins at
        # start_version. Never regress below the base: emitting an
        # offset under the engine's committed one would rewind the
        # stream into duplicates.
        base = (
            self._last_seen
            if self._last_seen is not None
            else self.start_version
        )
        if self.max_versions:
            head = max(min(head, base + self.max_versions), base)
        if self.max_files and head > base:
            # admit whole versions until the NEXT one would overflow the
            # file budget; always admit at least one version so a single
            # oversized commit cannot stall the stream (Delta's
            # maxFilesPerTrigger is approximate in exactly this way)
            total, v = 0, base
            while v < head:
                n = len(
                    _log_entries(self.path, v, v + 1)[0].get("add", [])
                )
                if total and total + n > self.max_files:
                    break
                total += n
                v += 1
            head = v
        self._last_seen = max(self._last_seen or 0, head)
        return {"version": head}

    def partitions(
        self, start: dict, end: dict
    ) -> Sequence[InputPartition]:
        self._last_seen = max(self._last_seen or 0, end["version"])
        parts: list[InputPartition] = []
        for e in _log_entries(self.path, start["version"], end["version"]):
            for add in e.get("add", []):
                parts.append(
                    TxnFilePartition(
                        os.path.join(self.path, add["path"]),
                        e["version"],
                        e["action"],
                    )
                )
        return parts

    def read(self, partition: TxnFilePartition) -> Iterator:
        import pyarrow as pa
        import pyarrow.parquet as pq

        tbl = pq.read_table(partition.abs_path)
        n = tbl.num_rows
        arrays, names = [], []
        for f in self.fields:
            names.append(f.name)
            if f.name in tbl.column_names:
                col = tbl.column(f.name)
                arrays.append(
                    col.combine_chunks()
                    if isinstance(col, pa.ChunkedArray)
                    else col
                )
            else:  # schema evolution: file predates the column
                arrays.append(pa.nulls(n, type=_pa_type(f.dataType)))
        arrays.append(pa.array([partition.version] * n, pa.int32()))
        names.append("_commit_version")
        arrays.append(pa.array([partition.action] * n, pa.string()))
        names.append("_commit_action")
        yield pa.RecordBatch.from_arrays(arrays, names)

    def commit(self, end: dict) -> None:  # offsets live in Spark's log
        self._last_seen = max(self._last_seen or 0, end["version"])


class TxnStreamDataSource(DataSource):
    """``spark.readStream.format("txn_table_stream").option("path", p)``."""

    @classmethod
    def name(cls) -> str:
        return "txn_table_stream"

    def schema(self) -> StructType:
        base = _table_schema(self.options["path"])
        return StructType(
            base.fields
            + [
                StructField("_commit_version", IntegerType(), False),
                StructField("_commit_action", StringType(), False),
            ]
        )

    def streamReader(self, schema: StructType) -> TxnStreamReader:
        return TxnStreamReader(dict(self.options), schema)
