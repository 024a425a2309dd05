"""Spark 4 Python DataSource SINK for the SnapshotStore (§2.A A3/A11).

The foreachBatch form (streaming/runner.py) drives the store from a
user function; this is the IDIOMATIC-SINK form — the store as a
registered format:

    spark.dataSource.register(SnapshotStoreDataSource)
    df.write.format("snapshot_store").option("path", root).save()
    stream.writeStream.format("snapshot_store").option("path", root)...

and it maps Spark's two-phase sink protocol DIRECTLY onto the store's
commit protocol:

- ``write`` runs per task on executors: rows → one pyarrow parquet
  part file in a dot-prefixed staging dir (invisible to
  ``snapshot_ids``), commit message = the part path. Data never
  funnels through the driver.
- ``commit`` runs once on the driver after ALL tasks succeeded: move
  the parts into the store's snapshot temp dir and commit through
  ``SnapshotStore.publish`` (``_SUCCESS`` marker, one rename). A
  replayed streaming epoch (crash after publish, before Spark
  committed its offset log) finds the target present and publish
  retire-swaps it, as for runner.write_batch's epochs — at-least-once
  at the file level, exactly once as observed through
  ``snapshot_ids``.
- ``abort`` deletes staged parts; a crashed task leaves only staging
  files that the next writer of the same store reclaims.

Streaming snapshot ids are ``snapshot-<batchId>-sink`` so epoch
replay is IDEMPOTENT per micro-batch id. Batch writes allocate the
next free id by listing committed dirs — NOT under any lock — so the
single-writer-per-store contract is the caller's (same contract as
SnapshotStore.append). It fails loudly rather than silently: only a
REPLAYED STREAMING epoch may retire-swap an existing target; a batch
publish onto an existing id raises, so two racing batch writers that
pick the same id cannot silently replace each other's snapshot.
"""

from __future__ import annotations

import os
import uuid
from pathlib import Path
from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamWriter,
    DataSourceWriter,
    WriterCommitMessage,
)
from pyspark.sql.types import Row, StructType

from snapflow_spark.incremental.store import SnapshotStore


class PartWritten(WriterCommitMessage):
    def __init__(self, path: str, rows: int):
        self.path = path
        self.rows = rows


_PA_TYPES = {
    "bigint": "int64",
    "int": "int32",
    "smallint": "int16",
    "tinyint": "int8",
    "double": "float64",
    "float": "float32",
    "string": "string",
    "boolean": "bool",
    "binary": "binary",
}


def _to_arrow(rows: list[Row], schema: StructType):
    """Rows → pyarrow table with EXPLICIT types for the primitive
    columns (pandas inference would promote nullable ints to float and
    silently change the stored schema). Nested/complex columns raise a
    clear unsupported-type error instead of letting pyarrow guess from
    Row tuples (pa.array infers a Row as a plain tuple and crashes
    with an opaque ArrowInvalid — or worse, succeeds wrongly)."""
    import pyarrow as pa

    import re

    cols = {f.name: [r[f.name] for r in rows] for f in schema.fields}
    arrays, fields = [], []
    for f in schema.fields:
        simple = f.dataType.simpleString()
        pa_t = _PA_TYPES.get(simple)
        if simple == "timestamp":
            # Row datetimes are naive wall-clock in the SESSION tz,
            # which this engine pins to UTC (session.tune). tz="UTC"
            # writes isAdjustedToUTC=true — the same annotation
            # Spark's own parquet writer uses, so sink-written and
            # append-written snapshots union cleanly and re-read as
            # TimestampType (not timestamp_ntz) in any session.
            pa_t = pa.timestamp("us", tz="UTC")
        elif simple == "timestamp_ntz":
            pa_t = pa.timestamp("us", tz=None)
        elif m := re.fullmatch(r"decimal\((\d+),(\d+)\)", simple):
            pa_t = pa.decimal128(int(m.group(1)), int(m.group(2)))
        elif pa_t is None and simple.startswith(("struct", "array", "map")):
            # only genuinely NESTED types are out of scope: pa.array
            # would infer a Row as a plain tuple and fail opaquely (or
            # worse, succeed wrongly); every primitive has an explicit
            # mapping above or safe inference (date) below
            raise ValueError(
                f"snapshot_store sink supports primitive columns only; "
                f"column {f.name!r} has unsupported type {simple!r} — "
                "flatten structs/arrays/maps before the sink or use "
                "SnapshotStore.append (Spark's writer) for nested data"
            )
        arrays.append(pa.array(cols[f.name], type=pa_t))
        fields.append(f.name)
    return pa.table(dict(zip(fields, arrays)))


class _SnapshotWriterBase:
    def __init__(self, schema: StructType, options: dict):
        self.schema_ = schema
        self.root = Path(options["path"])
        self.staging = self.root / ".staging"

    def write(self, iterator: Iterator[Row]) -> PartWritten:
        import pyarrow.parquet as pq

        rows = list(iterator)
        self.staging.mkdir(parents=True, exist_ok=True)
        part = self.staging / f"part-{uuid.uuid4().hex}.parquet"
        if rows:
            pq.write_table(_to_arrow(rows, self.schema_), part)
        return PartWritten(str(part), len(rows))

    def _publish(self, messages, sid: str, *, replayable: bool = False) -> None:
        """Move staged parts into the store's temp dir for ``sid`` and
        commit through ``SnapshotStore.publish``. Only a ``replayable``
        publish (a streaming epoch whose id is the micro-batch id) may
        retire-swap an existing target; a batch publish onto an
        existing target means two writers raced to the same listed id,
        so it fails loudly (FileExistsError, the loser's temp dir
        reclaimed) instead of replacing the first writer's snapshot."""
        parts = [m for m in messages if m is not None and m.rows > 0]
        if not parts:
            for m in messages:
                if m is not None and Path(m.path).exists():
                    Path(m.path).unlink()
            self._sweep_staging()
            return

        def stage(tmp: Path) -> None:
            tmp.mkdir()
            for i, m in enumerate(parts):
                os.rename(m.path, tmp / f"part-{i:05d}.parquet")
            self._sweep_staging()

        SnapshotStore(self.root).publish(sid, stage, replay=replayable)

    def _sweep_staging(self) -> None:
        """Reclaim orphaned staged parts. Runs on the DRIVER at commit
        time, after this job's parts were moved out: every task of the
        committing job has finished, and the store's single-writer
        contract means anything still in .staging is debris from a
        crashed/retried earlier attempt — safe to delete (an in-flight
        speculative duplicate keeps its fd; its output is unused)."""
        if self.staging.exists():
            for leftover in self.staging.glob("part-*.parquet"):
                try:
                    leftover.unlink()
                except OSError:
                    pass

    def abort(self, messages, batchId: int | None = None) -> None:
        for m in messages:
            if m is not None and Path(m.path).exists():
                Path(m.path).unlink()


class SnapshotBatchWriter(_SnapshotWriterBase, DataSourceWriter):
    def commit(self, messages) -> None:
        store = SnapshotStore(self.root)
        self._publish(messages, store._next_id())

    def abort(self, messages) -> None:  # type: ignore[override]
        _SnapshotWriterBase.abort(self, messages)


class SnapshotStreamWriter(_SnapshotWriterBase, DataSourceStreamWriter):
    def commit(self, messages, batchId: int) -> None:
        # epoch-stamped id → a replayed micro-batch overwrites itself
        self._publish(messages, f"snapshot-{batchId:06d}-sink", replayable=True)


class SnapshotStoreDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "snapshot_store"

    def writer(self, schema: StructType, overwrite: bool) -> SnapshotBatchWriter:
        if overwrite:
            raise ValueError(
                "snapshot_store is append-only (immutable snapshots); "
                "use mode('append') — compaction rewrites history via "
                "SnapshotStore.compact"
            )
        return SnapshotBatchWriter(schema, dict(self.options))

    def streamWriter(self, schema: StructType, overwrite: bool) -> SnapshotStreamWriter:
        return SnapshotStreamWriter(schema, dict(self.options))
