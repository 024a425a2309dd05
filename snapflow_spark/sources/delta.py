"""Delta Lake table-layout bridge — read and export the open
``_delta_log`` commit-log format from scratch, no delta-spark runtime.

A production 100 TB deployment lands on an open table format
(Iceberg/Delta catalogs), and the first thing a real user hits is "my
data is already a Delta table".  This module speaks the published
Delta transaction-log PROTOCOL (delta.io/PROTOCOL.md) directly:

- **Read** (``read_delta``): reconstruct the live file set at any
  version — newest checkpoint parquet at-or-below the target, then
  replay the JSON commits after it (add replaces by path, remove
  tombstones by path, last ``metaData``/``protocol`` wins).  The
  table schema comes from ``metaData.schemaString`` (Spark StructType
  JSON — Delta's own serialization, zero mapping needed), partition
  columns are re-attached from each file's ``partitionValues`` (Delta
  data files do NOT store partition columns), and ``partition_filter``
  prunes the FILE LIST before a single byte of data is opened —
  partition pruning at the metadata tier, exactly what the log is
  for.  Time travel = ``version=``.
- **Write/export** (``write_delta``, ``snapshot_store_to_delta``):
  stage data files with Spark's parquet writer (hive-layout
  ``col=val/`` dirs for partitioned tables, matching Delta's own
  convention), move them into the table root, and publish ONE atomic
  commit JSON (``open(..., 'x')`` — the single-writer local form; a
  multi-writer deployment points the publish at a conditional-PUT
  object store, the same contract incremental/table_ledger.py
  documents).  ``write_delta_checkpoint`` compacts the log into a
  checkpoint parquet + ``_last_checkpoint`` so readers skip the JSON
  replay.

**Deletion vectors read** (round 13): an ``add.deletionVector``
descriptor (inline / UUID sidecar / absolute path — the row-level
delete sidecars current Databricks writers emit BY DEFAULT) decodes
via sources/deletion_vectors.py (Z85 + portable RoaringBitmapArray,
from the published specs) and applies as a broadcast anti-join on the
parquet ``_metadata.row_index`` column, so the row filter runs
distributed while the bitmap stays O(deleted-rows) metadata.  Reader
protocol 3 with the ``deletionVectors`` feature is therefore
supported.

**Column mapping read** (rounds 13-14): ``delta.columnMapping.mode=
name`` tables (what modern Databricks writers create) read correctly
— the ``physicalName`` uuids recorded in the schema's field metadata
key the parquet columns, ``partitionValues`` and ``stats``, and the
scan renames them back to logical columns.  ``mode=id`` tables
(round 14) bind parquet columns by their footer FIELD IDS via
Spark's native ``spark.sql.parquet.fieldId.read.enabled`` path — the
read schema carries ``parquet.field.id`` metadata from the log's
``delta.columnMapping.id`` entries, so renamed physical columns
still resolve; partitionValues/stats key physical names in both
modes.  APPENDING to a column-mapped table stays a loud refusal
(the export writer stages logical-named parquet).

Loud-guard scope (never silently wrong): a reader protocol
above what this module implements raises with the feature named;
the streaming source refuses DV'd adds (an append stream cannot
express row-level deletes).  Checkpoints CARRY deletion-vector
descriptors, the protocol's feature lists, and SetTransaction
high-water marks (round 14), so a checkpoint-seeded reader is
equivalent to the JSON replay even after log cleanup.  Stats-based DATA SKIPPING is in (round
12): ``write_delta`` folds each file's parquet row-group statistics
into ``add.stats`` JSON (numRecords + min/maxValues + nullCount for
JSON-safe primitive columns), and ``read_delta(min_max_filter=...)``
drops files whose recorded range provably misses the probe — files
without stats are always kept, so skipping is an optimization, never
a filter.

Scale shape: the log is O(#files) metadata, never O(rows).  Reading
is python-side log replay (bounded: one dict entry per live file —
the same driver-side cost delta-spark's own Snapshot pays before
planning) followed by ONE Spark parquet relation per distinct live
partition tuple; data predicates and column pruning push into the
parquet scans as usual.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass, field
from dataclasses import replace as dc_replace
from pathlib import Path
from urllib.parse import quote, unquote

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import (
    ByteType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    StructField,
    StructType,
)

from snapflow_spark.sources.occ import ConcurrentModificationError


__all__ = [
    "DeltaSnapshot",
    "DeltaStreamDataSource",
    "delta_snapshot",
    "delta_stream_sink",
    "merge_delta",
    "read_delta",
    "read_delta_cdf",
    "rename_delta_column",
    "drop_delta_column",
    "set_delta_properties",
    "snapshot_store_to_delta",
    "vacuum_delta",
    "write_delta",
    "write_delta_checkpoint",
]

_LOG_DIR = "_delta_log"
_LAST_CHECKPOINT = "_last_checkpoint"
#: protocol tiers this reader actually implements
_MAX_READER_VERSION = 1
#: reader version 3 features this bridge actually implements
_SUPPORTED_READER_FEATURES = {"deletionVectors", "columnMapping"}
#: readerFeatures that change nothing for plain parquet scans
_HARMLESS_READER_FEATURES = {"timestampNtz", "v2Checkpoint"}
_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


@dataclass
class DeltaSnapshot:
    """The reconstructed state of a Delta table at one version."""

    path: str
    version: int
    schema: StructType
    partition_columns: list[str]
    #: live files: (relative path, partitionValues dict, size bytes,
    #: parsed add.stats dict or None)
    files: list[tuple[str, dict, int, dict | None]]
    metadata: dict = field(default_factory=dict)
    protocol: dict = field(default_factory=dict)
    #: relative path -> add.deletionVector descriptor, for the live
    #: files that carry one (row-level deletes; see deletion_vectors)
    dvs: dict = field(default_factory=dict)
    #: logical -> physical column names when the table uses
    #: delta.columnMapping.mode=name OR =id (empty otherwise);
    #: physical names key the partitionValues and stats in BOTH
    #: modes, and the parquet columns in mode=name
    physical_names: dict = field(default_factory=dict)
    #: logical -> parquet field id under mode=id (empty otherwise);
    #: parquet columns bind by footer field id, not by name
    field_ids: dict = field(default_factory=dict)
    #: appId -> highest committed txn version (the protocol's
    #: SetTransaction action — idempotent streaming writes key on it)
    txns: dict = field(default_factory=dict)


def hadoop_file_uri(p: str | os.PathLike) -> str:
    """The URI Spark's ``_metadata.file_path`` column reports for a
    local file: Hadoop's Path.toString form — ``file:/path`` (single
    slash), percent-encoded the way java.net.URI encodes a path
    component (space -> %20, %% -> %25; ``+``, ``;`` and the RFC 2396
    mark characters stay literal — java.net.URI keeps every pchar and
    the segment-parameter ``;`` unescaped).  Join keys against the
    metadata column MUST go through this, or files with spaces
    silently drop rows (DV anti-joins and partition re-attach both
    key on it; tests pin the helper against the live scan's
    ``_metadata.file_path`` for special-character paths)."""
    return "file:" + quote(
        str(Path(p).resolve()), safe="/:@&=+$,;-_.!~*'()"
    )


def _log_path(table_path: str | os.PathLike) -> Path:
    return Path(table_path) / _LOG_DIR


def _json_versions(log: Path) -> dict[int, Path]:
    out: dict[int, Path] = {}
    for p in log.iterdir() if log.is_dir() else ():
        name = p.name
        if name.endswith(".json") and len(name) == 25 and name[:20].isdigit():
            out[int(name[:20])] = p
    return out


class DeltaConcurrentModificationError(ConcurrentModificationError):
    """Base for the Delta protocol's optimistic-concurrency conflict
    taxonomy — a concurrent commit landed underneath this operation
    and the logical conflict check proved the two NOT independent."""


class DeltaMetadataChangedError(DeltaConcurrentModificationError):
    """A concurrent commit changed the table metadata (schema,
    partitioning, configuration) this operation was planned against."""


class DeltaProtocolChangedError(DeltaConcurrentModificationError):
    """A concurrent commit upgraded the table protocol."""


class DeltaConcurrentAppendError(DeltaConcurrentModificationError):
    """A concurrent commit added files this operation should have
    read (delete/update/merge predicates, overwrite scope)."""


class DeltaConcurrentDeleteError(DeltaConcurrentModificationError):
    """A concurrent commit removed files this operation read or also
    removes (the protocol's delete-read / delete-delete conflicts)."""


class DeltaConcurrentTransactionError(DeltaConcurrentModificationError):
    """A concurrent commit recorded this operation's ``txn`` app id
    at or past its version — the idempotent payload was already
    applied by another writer instance."""


#: one-shot TEST seam: when set, called with ``(table, version)``
#: right before the first exclusive-create attempt — lets tests
#: interleave a competing commit at a deterministic point.  Cleared
#: before invocation so the competing writer does not recurse.
_pre_commit_hook = None


def _occ_conflict_check(
    commit_path: Path,
    *,
    op: str,
    conflict_on_add: bool,
    conflict_on_remove: bool,
    our_removes: set,
    txn_check: tuple | None,
) -> None:
    """The Delta protocol's logical conflict rules against ONE
    winning commit (the optimistic-concurrency appendix,
    WriteSerializable tier):

    - any ``metaData``/``protocol`` change conflicts with everything
      (the loser planned against stale schema/protocol);
    - a ``txn`` for the same app id at/past our version means the
      idempotent payload is already applied;
    - ``add`` with dataChange conflicts only with operations that
      READ the table (delete/update/merge/overwrite/restore) — blind
      appends tolerate it;
    - ``remove`` of a file we also remove is delete/delete; of any
      file at all, delete/read for table-reading operations.
    """
    won = commit_path.name
    with open(commit_path, encoding="utf-8") as fh:
        for line in fh:
            line = line.strip()
            if not line:
                continue
            a = json.loads(line)
            if "metaData" in a:
                raise DeltaMetadataChangedError(
                    f"{op}: concurrent commit {won} changed the table "
                    "metadata underneath this operation — re-run "
                    "against the current table state"
                )
            if "protocol" in a:
                raise DeltaProtocolChangedError(
                    f"{op}: concurrent commit {won} upgraded the "
                    "table protocol underneath this operation"
                )
            if txn_check is not None and "txn" in a:
                app, ver = txn_check
                t = a["txn"] or {}
                if t.get("appId") == app and int(
                    t.get("version", -1)
                ) >= ver:
                    raise DeltaConcurrentTransactionError(
                        f"{op}: concurrent commit {won} already "
                        f"recorded txn appId={app!r} at version "
                        f">= {ver} — the idempotent payload was "
                        "applied by another writer"
                    )
            if (
                conflict_on_add
                and "add" in a
                and (a["add"] or {}).get("dataChange")
            ):
                raise DeltaConcurrentAppendError(
                    f"{op}: concurrent commit {won} appended data "
                    "files this operation should have read"
                )
            if "remove" in a:
                p = (a["remove"] or {}).get("path")
                if p in our_removes:
                    raise DeltaConcurrentDeleteError(
                        f"{op}: concurrent commit {won} removed file "
                        f"{p} this commit also removes "
                        "(delete/delete conflict)"
                    )
                if conflict_on_remove:
                    raise DeltaConcurrentDeleteError(
                        f"{op}: concurrent commit {won} removed file "
                        f"{p} this operation read "
                        "(delete/read conflict)"
                    )


def _commit_with_retry(
    table: Path,
    base_version: int,
    actions: list,
    *,
    op: str,
    conflict_on_add: bool = False,
    conflict_on_remove: bool = False,
    txn_check: tuple | None = None,
) -> int:
    """Publish ``actions`` as one commit with the Delta protocol's
    optimistic-concurrency retry: attempt create-exclusive at
    ``base_version + 1``; when a concurrent writer won that version,
    run :func:`_occ_conflict_check` against every commit that got in
    and re-attempt at the next free version.  Returns the committed
    version; raises the named conflict subclass when the commits are
    not logically independent.  A lost race costs one log re-scan —
    the staged data files are version-independent, so the rebase
    never re-stages."""
    global _pre_commit_hook
    log = _log_path(table)
    our_removes = {
        (a["remove"] or {}).get("path")
        for a in actions
        if "remove" in a
    }
    v = base_version + 1
    if _pre_commit_hook is not None:
        hook, _pre_commit_hook = _pre_commit_hook, None
        hook(table, v)
    from snapflow_spark.sources.occ import MAX_COMMIT_RETRIES

    for _ in range(MAX_COMMIT_RETRIES):
        try:
            with open(
                log / f"{v:020d}.json", "x", encoding="utf-8"
            ) as fh:
                for a in actions:
                    fh.write(
                        json.dumps(a, separators=(",", ":")) + "\n"
                    )
            return v
        except FileExistsError:
            while (log / f"{v:020d}.json").exists():
                _occ_conflict_check(
                    log / f"{v:020d}.json",
                    op=op,
                    conflict_on_add=conflict_on_add,
                    conflict_on_remove=conflict_on_remove,
                    our_removes=our_removes,
                    txn_check=txn_check,
                )
                v += 1
    raise DeltaConcurrentModificationError(
        f"{op}: gave up after {MAX_COMMIT_RETRIES} lost commit races "
        f"at {table} — pathological write contention"
    )


def _commit_info(operation: str, params: dict | None = None) -> dict:
    """The commitInfo action our writers stamp first in every commit:
    the operation name plus an inCommitTimestamp, so engine-written
    tables time-travel on monotonic commit timestamps instead of file
    mtimes (and external readers see the conventional provenance
    row).  ``params`` lands as ``operationParameters`` with every
    value STRINGIFIED (delta-spark's convention — predicates, modes
    and column lists all arrive as strings in DESCRIBE HISTORY).
    Readers that don't know ICT ignore commitInfo entirely."""
    ci: dict = {
        "operation": operation,
        "inCommitTimestamp": int(time.time() * 1000),
        "engineInfo": "snapflow-spark",
    }
    if params:
        ci["operationParameters"] = {
            str(k): (
                v if isinstance(v, str)
                else json.dumps(v, separators=(",", ":"))
            )
            for k, v in params.items()
            if v is not None
        }
    return {"commitInfo": ci}


def _commit_ts_ms(p: Path) -> int:
    """A commit's timestamp for time travel: the protocol's
    ``commitInfo.inCommitTimestamp`` when the writer recorded one
    (the inCommitTimestamp feature — clock-skew-proof, monotonic), or
    the commit file's mtime (the pre-ICT rule delta-spark's
    timestampAsOf uses) otherwise."""
    try:
        with open(p, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if not line:
                    continue
                try:
                    action = json.loads(line)
                except json.JSONDecodeError:
                    break
                ci = action.get("commitInfo")
                if ci is not None:
                    ict = ci.get("inCommitTimestamp")
                    if ict is not None:
                        return int(ict)
                    break  # one commitInfo per commit, no ICT on it
    except OSError:
        pass
    return int(p.stat().st_mtime * 1000)


def _checkpoint_parts(log: Path, version: int) -> list[Path]:
    """All parquet parts of the checkpoint at ``version`` — the
    classic single-file form or the multi-part
    ``<v>.checkpoint.<i>.<n>.parquet`` form."""
    stem = f"{version:020d}.checkpoint"
    single = log / f"{stem}.parquet"
    if single.exists():
        return [single]
    return sorted(log.glob(f"{stem}.*.parquet"))


def _latest_checkpoint_version(log: Path, at_most: int) -> int | None:
    """Newest checkpoint version <= at_most: trust _last_checkpoint
    when it qualifies, else scan the listing (the hint file is an
    optimization, not the source of truth)."""
    hint = log / _LAST_CHECKPOINT
    if hint.exists():
        try:
            v = int(json.loads(hint.read_text())["version"])
            if v <= at_most and _checkpoint_parts(log, v):
                return v
        except (ValueError, KeyError, json.JSONDecodeError):
            pass
    best: int | None = None
    for p in log.glob("*.checkpoint*.parquet"):
        head = p.name.split(".", 1)[0]
        if head.isdigit():
            v = int(head)
            if v <= at_most and (best is None or v > best):
                best = v
    return best


def _guard_protocol(protocol: dict, metadata: dict, what: str) -> None:
    mrv = int(protocol.get("minReaderVersion", 1) or 1)
    feats = set(protocol.get("readerFeatures") or [])
    unsupported = (
        feats - _HARMLESS_READER_FEATURES - _SUPPORTED_READER_FEATURES
    )
    if mrv > _MAX_READER_VERSION and unsupported:
        raise NotImplementedError(
            f"{what}: table requires reader protocol {mrv} with "
            f"features {sorted(unsupported)}; this bridge implements "
            f"reader version {_MAX_READER_VERSION} + "
            f"{sorted(_SUPPORTED_READER_FEATURES)} (+ harmless "
            f"{sorted(_HARMLESS_READER_FEATURES)})"
        )
    mode = (metadata.get("configuration") or {}).get(
        "delta.columnMapping.mode", "none"
    )
    if mode not in (None, "none", "name", "id"):
        raise NotImplementedError(
            f"{what}: delta.columnMapping.mode={mode!r} ('name' and "
            "'id' are implemented)"
        )


def _physical_names(schema: StructType, metadata: dict, what: str) -> dict:
    """logical -> physical column names under
    ``delta.columnMapping.mode=name`` (physical parquet columns are
    the ``delta.columnMapping.physicalName`` uuids recorded in the
    schema's field metadata; partitionValues and stats key by them
    too).  Empty dict when the table doesn't use column mapping."""
    mode = (metadata.get("configuration") or {}).get(
        "delta.columnMapping.mode", "none"
    )
    if mode in (None, "none"):
        return {}
    out: dict[str, str] = {}
    for f in schema.fields:
        pn = (f.metadata or {}).get("delta.columnMapping.physicalName")
        if not pn:
            raise ValueError(
                f"{what}: delta.columnMapping.mode={mode} but column "
                f"{f.name!r} has no physicalName in the schema "
                "metadata — malformed table"
            )
        out[f.name] = pn
    return out


def _physical_datatype(dt, what: str):
    """The PHYSICAL shape of one column's dataType under column
    mapping (round 16 — nested support): struct fields rename to
    their ``delta.columnMapping.physicalName`` RECURSIVELY (the
    on-disk parquet shape mode=name tables store), arrays and maps
    recurse into their element/value types.  Primitives pass
    through.  Raises on a nested struct field missing its
    physicalName (malformed table)."""
    from pyspark.sql.types import ArrayType, MapType

    if isinstance(dt, StructType):
        out = []
        for f in dt.fields:
            pn = (f.metadata or {}).get(
                "delta.columnMapping.physicalName"
            )
            if not pn:
                raise ValueError(
                    f"{what}: nested field {f.name!r} has no "
                    "physicalName in the schema metadata — "
                    "malformed column-mapped table"
                )
            out.append(
                StructField(
                    pn,
                    _physical_datatype(f.dataType, what),
                    f.nullable,
                )
            )
        return StructType(out)
    if isinstance(dt, ArrayType):
        return ArrayType(
            _physical_datatype(dt.elementType, what),
            dt.containsNull,
        )
    if isinstance(dt, MapType):
        return MapType(
            _physical_datatype(dt.keyType, what),
            _physical_datatype(dt.valueType, what),
            dt.valueContainsNull,
        )
    return dt


def _is_nested(dt) -> bool:
    from pyspark.sql.types import ArrayType, MapType

    return isinstance(dt, (StructType, ArrayType, MapType))


def _strip_meta(dt):
    """A metadata-free copy of a dataType — schema comparisons must
    ignore the columnMapping metadata nested struct fields carry
    (names and types are the contract, provenance is not)."""
    from pyspark.sql.types import ArrayType, MapType

    if isinstance(dt, StructType):
        return StructType(
            [
                StructField(
                    f.name, _strip_meta(f.dataType), f.nullable
                )
                for f in dt.fields
            ]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(_strip_meta(dt.elementType), dt.containsNull)
    if isinstance(dt, MapType):
        return MapType(
            _strip_meta(dt.keyType),
            _strip_meta(dt.valueType),
            dt.valueContainsNull,
        )
    return dt


def _id_datatype(dt, what: str):
    """mode=id nested binding (round 16): the dataType with
    ``parquet.field.id`` metadata injected on every nested struct
    field (from the schema's ``delta.columnMapping.id``), so Spark's
    field-id parquet reader resolves inner columns too."""
    from pyspark.sql.types import ArrayType, MapType

    if isinstance(dt, StructType):
        out = []
        for f in dt.fields:
            fid = (f.metadata or {}).get("delta.columnMapping.id")
            if fid is None:
                raise ValueError(
                    f"{what}: nested field {f.name!r} has no "
                    "delta.columnMapping.id in the schema metadata "
                    "— malformed column-mapped table"
                )
            out.append(
                StructField(
                    f.name,
                    _id_datatype(f.dataType, what),
                    f.nullable,
                    {"parquet.field.id": int(fid)},
                )
            )
        return StructType(out)
    if isinstance(dt, ArrayType):
        return ArrayType(_id_datatype(dt.elementType, what),
                         dt.containsNull)
    if isinstance(dt, MapType):
        return MapType(
            _id_datatype(dt.keyType, what),
            _id_datatype(dt.valueType, what),
            dt.valueContainsNull,
        )
    return dt


def _field_ids(schema: StructType, metadata: dict, what: str) -> dict:
    """logical column name -> parquet field id under
    ``delta.columnMapping.mode=id`` (the schema's
    ``delta.columnMapping.id`` metadata).  Parquet columns bind by
    their footer field ids, NOT by name — the parquet column names
    may be anything (the common case: tables converted from formats
    that renamed columns).  Empty for other modes."""
    mode = (metadata.get("configuration") or {}).get(
        "delta.columnMapping.mode", "none"
    )
    if mode != "id":
        return {}
    out: dict[str, int] = {}
    for f in schema.fields:
        fid = (f.metadata or {}).get("delta.columnMapping.id")
        if fid is None:
            raise ValueError(
                f"{what}: delta.columnMapping.mode=id but column "
                f"{f.name!r} has no delta.columnMapping.id in the "
                "schema metadata — malformed table"
            )
        out[f.name] = int(fid)
    return out


def delta_snapshot(
    spark: SparkSession,
    path: str | os.PathLike,
    version: int | None = None,
    timestamp_ms: int | None = None,
) -> DeltaSnapshot:
    """Replay the log into the table state at ``version`` (default:
    latest).  Checkpoint adds seed the state (checkpoint ``remove``
    entries are expired-tombstone bookkeeping and are ignored); JSON
    commits after it replay in order.

    ``timestamp_ms`` time-travels by time instead (delta-spark's
    timestampAsOf): the newest commit whose timestamp — the commit
    file's modification time, the protocol's pre-inCommitTimestamp
    rule — is at or before the probe wins; a probe before the first
    commit raises."""
    if version is not None and timestamp_ms is not None:
        raise ValueError(
            "read_delta: pass version= OR timestamp_ms=, not both"
        )
    table = str(path)
    log = _log_path(table)
    versions = _json_versions(log)
    newest_cp = _latest_checkpoint_version(log, 1 << 62)
    if not versions and newest_cp is None:
        raise FileNotFoundError(
            f"read_delta: no Delta log at {log} (neither commit JSONs "
            "nor a checkpoint)"
        )
    latest = max(
        max(versions) if versions else -1,
        newest_cp if newest_cp is not None else -1,
    )
    if timestamp_ms is not None:
        eligible = [
            v
            for v, p in versions.items()
            if _commit_ts_ms(p) <= int(timestamp_ms)
        ]
        if not eligible:
            raise ValueError(
                f"read_delta: no commit at or before timestamp_ms="
                f"{timestamp_ms} (earliest commit is "
                f"{min(versions) if versions else 'checkpoint-only'})"
            )
        version = max(eligible)
    want = latest if version is None else int(version)
    if want > latest or want < 0:
        raise ValueError(
            f"read_delta: version {want} not in log (latest {latest})"
        )

    adds: dict[str, tuple[dict, int, dict | None]] = {}
    dvs: dict[str, dict] = {}
    txns: dict[str, int] = {}
    metadata: dict = {}
    protocol: dict = {}

    def apply_add(a: dict, what: str) -> None:
        p = unquote(a["path"])
        dv = a.get("deletionVector")
        if dv and dv.get("storageType"):
            # re-adding a path REPLACES its entry, DV included (how
            # delta-spark publishes an updated delete set for a file)
            dvs[p] = {k: v for k, v in dv.items() if v is not None}
        else:
            dvs.pop(p, None)
        st = a.get("stats")
        if isinstance(st, str):
            try:
                st = json.loads(st)
            except json.JSONDecodeError:
                st = None
        adds[p] = (
            a.get("partitionValues") or {},
            int(a.get("size") or 0),
            st if isinstance(st, dict) else None,
        )

    cp = _latest_checkpoint_version(log, want)
    if cp is not None:
        cp_df = spark.read.parquet(
            *[str(p) for p in _checkpoint_parts(log, cp)]
        )
        sidecars: list[str] = []

        def _apply_cp_row(d: dict, cols: set) -> None:
            nonlocal metadata, protocol
            if "add" in cols and d.get("add") and d["add"].get("path"):
                apply_add(d["add"], "read_delta[checkpoint]")
            if (
                "metaData" in cols
                and d.get("metaData")
                and d["metaData"].get("id")
            ):
                metadata = {
                    k: v for k, v in d["metaData"].items() if v is not None
                }
            if "protocol" in cols and d.get("protocol") and any(
                v is not None for v in d["protocol"].values()
            ):
                protocol = {
                    k: v for k, v in d["protocol"].items() if v is not None
                }
            if "txn" in cols and d.get("txn") and d["txn"].get("appId"):
                t = d["txn"]
                txns[t["appId"]] = max(
                    int(t.get("version") or 0),
                    txns.get(t["appId"], -1),
                )
            if (
                "sidecar" in cols
                and d.get("sidecar")
                and d["sidecar"].get("path")
            ):
                # V2 CHECKPOINT: the file actions live in sidecar
                # parquet under _delta_log/_sidecars/ — reading only
                # the top-level file would silently LOSE rows
                sidecars.append(d["sidecar"]["path"])

        cols = set(cp_df.columns)
        for row in cp_df.collect():  # O(#files) metadata, bounded
            _apply_cp_row(row.asDict(recursive=True), cols)
        if sidecars:
            side_paths = [
                str(
                    p
                    if (p := Path(unquote(sp))).is_absolute()
                    else log / "_sidecars" / unquote(sp)
                )
                for sp in sidecars
            ]
            side_df = spark.read.parquet(*side_paths)
            side_cols = set(side_df.columns)
            for row in side_df.collect():  # O(#files) metadata
                _apply_cp_row(row.asDict(recursive=True), side_cols)
        replay_from = cp + 1
    else:
        replay_from = 0

    for v in range(replay_from, want + 1):
        p = versions.get(v)
        if p is None:
            if v == 0 and cp is None:
                raise FileNotFoundError(
                    f"read_delta: commit {v} missing from {log}"
                )
            raise FileNotFoundError(
                f"read_delta: commit {v} missing from {log} (log cleaned "
                "past the requested version? create a checkpoint first)"
            )
        with open(p, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if not line:
                    continue
                action = json.loads(line)
                if "add" in action:
                    apply_add(action["add"], "read_delta")
                elif "remove" in action:
                    rp = unquote(action["remove"]["path"])
                    adds.pop(rp, None)
                    dvs.pop(rp, None)
                elif "metaData" in action:
                    metadata = action["metaData"]
                elif "protocol" in action:
                    protocol = action["protocol"]
                elif "txn" in action:
                    t = action["txn"]
                    if t.get("appId") is not None:
                        txns[t["appId"]] = max(
                            int(t.get("version") or 0),
                            txns.get(t["appId"], -1),
                        )

    _guard_protocol(protocol, metadata, "read_delta")
    if not metadata.get("schemaString"):
        raise ValueError(
            f"read_delta: no metaData.schemaString in the log at {log}"
        )
    schema = StructType.fromJson(json.loads(metadata["schemaString"]))
    physical = _physical_names(schema, metadata, "read_delta")
    fids = _field_ids(schema, metadata, "read_delta")
    part_cols = list(metadata.get("partitionColumns") or [])
    files = [
        (p, pv, sz, st) for p, (pv, sz, st) in sorted(adds.items())
    ]
    return DeltaSnapshot(
        path=table,
        version=want,
        schema=schema,
        partition_columns=part_cols,
        files=files,
        metadata=metadata,
        protocol=protocol,
        dvs=dvs,
        physical_names=physical,
        field_ids=fids,
        txns=txns,
    )


def read_delta(
    spark: SparkSession,
    path: str | os.PathLike,
    version: int | None = None,
    partition_filter: dict | None = None,
    min_max_filter: dict | None = None,
    timestamp_ms: int | None = None,
) -> DataFrame:
    """Read a Delta-layout table as a DataFrame.

    ``version=`` time-travels; ``timestamp_ms=`` time-travels by time
    (newest commit at or before the probe — delta-spark's
    timestampAsOf, commit-file mtime rule); ``partition_filter={col: value}``
    prunes the file list on the log's ``partitionValues`` BEFORE any
    parquet file is opened (values compare against Delta's string
    serialization — pass strings, or anything whose ``str()`` matches;
    ``None`` matches null partitions).  ``min_max_filter={col: (lo,
    hi)}`` is Delta DATA SKIPPING: a file is dropped when its
    ``add.stats`` min/max prove the column disjoint from [lo, hi]
    (either bound may be None = unbounded); files WITHOUT stats are
    always kept — skipping is an optimization, never a filter, so
    callers still apply the real predicate on the result.

    Plan shape is FILE-COUNT-INDEPENDENT: all kept files scan as ONE
    parquet relation; partition columns re-attach through a broadcast
    (file_path -> partitionValues) mapping join keyed on
    ``_metadata.file_path`` (one tiny mapping row per kept file);
    every deletion vector applies through ONE distributed
    (file_path, row_index) anti-join whose delete side is expanded
    EXECUTOR-side from the O(deleted)-sized descriptors — no
    per-partition-group relations, no per-file broadcasts, and AQE
    picks broadcast vs shuffle for the DV anti-join by actual size."""
    snap = delta_snapshot(
        spark, path, version=version, timestamp_ms=timestamp_ms
    )
    fields = {f.name: f for f in snap.schema.fields}
    for c in snap.partition_columns:
        if c not in fields:
            raise ValueError(
                f"read_delta: partition column {c!r} missing from the "
                f"table schema {list(fields)}"
            )
    if partition_filter:
        bad = set(partition_filter) - set(snap.partition_columns)
        if bad:
            raise ValueError(
                f"read_delta: partition_filter names non-partition "
                f"columns {sorted(bad)}; partition columns are "
                f"{snap.partition_columns}"
            )

    if min_max_filter:
        data_cols = {
            f.name for f in snap.schema.fields
            if f.name not in snap.partition_columns
        }
        bad = set(min_max_filter) - data_cols
        if bad:
            raise ValueError(
                f"read_delta: min_max_filter names non-data columns "
                f"{sorted(bad)} (partition columns prune via "
                f"partition_filter)"
            )

    phys = snap.physical_names

    def P(c: str) -> str:
        """logical -> physical name (identity without column mapping);
        partitionValues, stats and parquet columns all key physical."""
        return phys.get(c, c) if phys else c

    def keep(pv: dict) -> bool:
        for c, want in (partition_filter or {}).items():
            got = pv.get(P(c))
            if want is None:
                if got is not None:
                    return False
            elif got is None or str(want) != got:
                return False
        return True

    def stats_keep(st: dict | None) -> bool:
        if not st or not min_max_filter:
            return True
        for c, (lo, hi) in min_max_filter.items():
            mn = (st.get("minValues") or {}).get(P(c))
            mx = (st.get("maxValues") or {}).get(P(c))
            if lo is not None and mx is not None and mx < lo:
                return False
            if hi is not None and mn is not None and mn > hi:
                return False
        return True

    kept: list[tuple[str, str, dict]] = []  # (rel, abs path, pv)
    for rel, pv, _sz, st in snap.files:
        if keep(pv) and stats_keep(st):
            kept.append((rel, str(Path(snap.path) / rel), pv))
    return _scan_live(spark, snap, kept)


def _scan_live(
    spark: SparkSession,
    snap: DeltaSnapshot,
    kept: list,
    positions: bool = False,
) -> DataFrame:
    """ONE parquet relation over the given live files ([(rel, abs
    path, partitionValues)]) with deletion vectors applied and
    partition columns re-attached — read_delta's body, reusable for
    subsets (optimize_delta compacts exactly the files it names).
    ``positions`` also keeps each live row's file URI and row index
    (``__df_file``, ``__df_pos``) — merge_delta's match pass marks
    DV positions from them.
    See read_delta's docstring for the plan-shape contract."""
    phys = snap.physical_names
    fields = {f.name: f for f in snap.schema.fields}

    def P(c: str) -> str:
        return phys.get(c, c) if phys else c

    data_fields = [
        f for f in snap.schema.fields
        if f.name not in snap.partition_columns
    ]
    if snap.field_ids:
        # columnMapping mode=id: request LOGICAL names carrying
        # parquet.field.id metadata — Spark's parquet reader binds
        # each column by its footer field id (the parquet column
        # names are free to differ), so no rename select is needed.
        # The session flag gates that binding; it only affects read
        # schemas that carry field-id metadata, i.e. these reads.
        spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
        data_schema = StructType(
            [
                StructField(
                    f.name,
                    _id_datatype(f.dataType, "read_delta"),
                    f.nullable,
                    {"parquet.field.id": snap.field_ids[f.name]},
                )
                for f in data_fields
            ]
        )
    else:
        # mode=name: request PHYSICAL names — nested struct fields
        # rename recursively (round 16); the select below casts the
        # shape back onto the logical names (a positional struct
        # cast renames every level, pure codegen)
        data_schema = StructType(
            [
                StructField(
                    P(f.name),
                    _physical_datatype(f.dataType, "read_delta")
                    if phys
                    else f.dataType,
                    f.nullable,
                )
                for f in data_fields
            ]
        )
    out_cols = [f.name for f in snap.schema.fields]
    if not kept:
        return spark.createDataFrame([], snap.schema)
    if positions:
        out_cols += ["__df_file", "__df_pos"]

    _uri = hadoop_file_uri

    dv_entries = [
        (rel, p) for rel, p, _pv in kept if rel in snap.dvs
    ]
    for rel, _p in dv_entries:
        # plan-time guard: an unknown storage type refuses BEFORE any
        # scan is scheduled (the executor-side decode re-validates
        # framing/CRC/cardinality; this keeps the refusal eager)
        st_ = snap.dvs[rel].get("storageType")
        if st_ not in ("i", "u", "p"):
            raise NotImplementedError(
                f"deletion vector storageType {st_!r} (i/u/p are the "
                "spec)"
            )
    need_key = positions or bool(snap.partition_columns) or bool(dv_entries)

    df = spark.read.schema(data_schema).parquet(*[p for _r, p, _pv in kept])
    if snap.field_ids:  # mode=id reads come out logical already
        sel = [F.col(f.name) for f in data_fields]
    elif phys:
        sel = [
            (
                F.col(P(f.name)).cast(f.dataType)
                if _is_nested(f.dataType)
                else F.col(P(f.name))
            ).alias(f.name)
            for f in data_fields
        ]
    else:
        sel = [F.col(P(f.name)).alias(f.name) for f in data_fields]
    if need_key:
        sel.append(F.col("_metadata.file_path").alias("__df_file"))
    if positions or dv_entries:
        sel.append(F.col("_metadata.row_index").alias("__df_pos"))
    df = df.select(*sel)

    if dv_entries:
        # ONE anti-join for ALL deletion vectors: the delete side is
        # (file uri, row index) pairs expanded EXECUTOR-side from the
        # O(#DV'd files) descriptor rows — the driver never holds the
        # decoded indexes, and AQE broadcasts or shuffles the delete
        # side by its actual size (a 50%-deleted big table degrades
        # to a shuffled anti-join instead of an OOM broadcast).
        root = snap.path
        dv_src = spark.createDataFrame(
            [(_uri(p), json.dumps(snap.dvs[rel])) for rel, p in dv_entries],
            "__dv_file string, __dv_desc string",
        )

        def expand(batches):
            from snapflow_spark.sources.deletion_vectors import (
                deleted_row_indexes as _dri,
            )

            for b in batches:
                for furi, desc in zip(b["__dv_file"], b["__dv_desc"]):
                    idx = _dri(root, json.loads(desc))
                    for i in range(0, len(idx), 1 << 20):
                        chunk = idx[i : i + (1 << 20)]
                        yield pd.DataFrame(
                            {
                                "__dv_file": furi,
                                "__dv_pos": pd.array(chunk, dtype="int64"),
                            }
                        )

        n = min(
            len(dv_entries), spark.sparkContext.defaultParallelism
        )
        dv_df = (
            dv_src.repartition(n)
            .mapInPandas(expand, "__dv_file string, __dv_pos long")
        )
        df = df.join(
            dv_df,
            (df["__df_file"] == dv_df["__dv_file"])
            & (df["__df_pos"] == dv_df["__dv_pos"]),
            "left_anti",
        )

    if snap.partition_columns:
        # partition values re-attach via a broadcast mapping join —
        # one KB-scale row per kept file, built from log metadata —
        # instead of per-partition-group literal relations, so the
        # relation count stays 1 regardless of #partitions
        pv_cols = ", ".join(
            f"__pv_{i} string" for i in range(len(snap.partition_columns))
        )
        mapping = spark.createDataFrame(
            [
                tuple(
                    [_uri(p)]
                    + [pv.get(P(c)) for c in snap.partition_columns]
                )
                for _rel, p, pv in kept
            ],
            f"__pv_file string, {pv_cols}",
        )
        df = df.join(
            F.broadcast(mapping),
            df["__df_file"] == mapping["__pv_file"],
        )
        for i, c in enumerate(snap.partition_columns):
            df = df.withColumn(
                c, F.col(f"__pv_{i}").cast(fields[c].dataType)
            )
    return df.select(*out_cols)


def _file_stats(p: Path) -> dict | None:
    """Delta ``add.stats`` for one parquet file, folded from its
    row-group statistics (one footer read, no data scan): numRecords,
    min/maxValues and nullCount for top-level columns whose stats are
    JSON-safe primitives (int/float/str/bool — binary and temporal
    leaves are skipped; absent stats stay absent, and readers treat
    absence as "cannot skip")."""
    import pyarrow.parquet as pq

    try:
        md = pq.ParquetFile(p).metadata
    except Exception:
        return None
    mins: dict = {}
    maxs: dict = {}
    nulls: dict = {}
    dead: set = set()
    for i in range(md.num_row_groups):
        rg = md.row_group(i)
        for j in range(rg.num_columns):
            col = rg.column(j)
            name = col.path_in_schema
            if "." in name or name in dead:  # nested leaf / opted out
                continue
            st = col.statistics
            if st is None or not st.has_min_max:
                dead.add(name)
                continue
            try:
                mn, mx = st.min, st.max
            except Exception:  # pyarrow can't cast e.g. decimals
                dead.add(name)
                continue
            ok = (int, float, str, bool)
            if not isinstance(mn, ok) or isinstance(mn, bytes):
                dead.add(name)
                continue
            mins[name] = mn if name not in mins else min(mins[name], mn)
            maxs[name] = mx if name not in maxs else max(maxs[name], mx)
            nulls[name] = nulls.get(name, 0) + int(st.null_count or 0)
    for name in dead:
        mins.pop(name, None)
        maxs.pop(name, None)
        nulls.pop(name, None)
    return {
        "numRecords": md.num_rows,
        "minValues": mins,
        "maxValues": maxs,
        "nullCount": nulls,
    }


def _live_state(
    spark: SparkSession, table: Path
) -> tuple[int, DeltaSnapshot | None]:
    """(next commit version, current snapshot or None for a new
    table)."""
    log = _log_path(table)
    versions = _json_versions(log)
    if not versions and _latest_checkpoint_version(log, 1 << 62) is None:
        return 0, None
    snap = delta_snapshot(spark, table)
    return snap.version + 1, snap


def _distributed_file_stats(
    spark: SparkSession, paths: list[str]
) -> dict[str, dict | None]:
    """``_file_stats`` for many staged files in ONE Spark job —
    executor-side footer reads via mapInPandas instead of O(#files)
    serial driver I/O at export time (the iceberg bridge shares this
    for its manifest bounds).  Returns {path: stats dict or None}.

    Tiny exports skip the job: below ~a task's worth of files the
    Spark round trip costs more than the footer reads it distributes
    (a footer read is ~1 ms), so the driver reads them directly —
    same bytes, no scheduling overhead.  The executor-side path is
    for the thousands-of-files exports the O(#files) concern names."""
    if not paths:
        return {}
    if len(paths) <= 16:
        return {p: _file_stats(Path(p)) for p in paths}
    n = min(len(paths), spark.sparkContext.defaultParallelism)

    def gen(batches):
        for b in batches:
            stats = []
            for p in b["path"]:
                st = _file_stats(Path(p))
                stats.append(None if st is None else json.dumps(st))
            yield pd.DataFrame({"path": b["path"], "stats": stats})

    rows = (
        spark.createDataFrame(pd.DataFrame({"path": paths}))
        .repartition(n)
        .mapInPandas(gen, "path string, stats string")
        .collect()
    )  # O(#files) metadata back to the committer, bounded
    return {
        r["path"]: (None if r["stats"] is None else json.loads(r["stats"]))
        for r in rows
    }


def _stage_and_move(
    df: DataFrame, table: Path, partition_by: list[str],
    subdir: str = "",
) -> list[tuple[str, dict, int]]:
    """Write data files via Spark's parquet writer into a staging dir
    (hive ``col=val/`` layout for partitioned tables — Delta's own
    file convention), then move each part file under the table root
    (or ``subdir`` below it — the ``_change_data`` CDC convention).
    Returns (relative path INCLUDING subdir, partitionValues, size,
    mtime_ms, stats) per file; Spark's per-job UUID part names make
    the moves collision-free."""
    staging = table / f".staging-{uuid.uuid4().hex}"
    writer = df.write.mode("errorifexists")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(str(staging))
    try:
        all_parts = sorted(staging.rglob("*.parquet"))
        stats = _distributed_file_stats(
            df.sparkSession, [str(p) for p in all_parts]
        )
        out: list[tuple[str, dict, int, int, dict | None]] = []
        for p in all_parts:
            st = stats.get(str(p))
            n_rows = (
                int(st["numRecords"]) if st is not None else None
            )
            if n_rows == 0:
                continue  # empty task output: never an add action
            rel = p.relative_to(staging)
            pv: dict = {}
            for seg in rel.parts[:-1]:
                col, _, raw = seg.partition("=")
                pv[col] = None if raw == _HIVE_NULL else unquote(raw)
            target = (table / subdir / rel) if subdir else (table / rel)
            target.parent.mkdir(parents=True, exist_ok=True)
            os.rename(p, target)
            parts = ((subdir,) if subdir else ()) + rel.parts
            fst = target.stat()
            out.append(
                (
                    "/".join(quote(seg, safe="=") for seg in parts),
                    pv,
                    fst.st_size,
                    int(fst.st_mtime * 1000),
                    st,
                )
            )
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    return out


def _stage_logical(
    df: DataFrame,
    table: Path,
    snap: "DeltaSnapshot",
    subdir: str | None = None,
) -> list:
    """Stage LOGICAL-named rows for a possibly column-mapped table
    (round 15): mode=name/id tables rename each table column to its
    ``physicalName`` uuid before writing (mode=id also stamps
    ``parquet.field.id`` in the written footers so id-binding readers
    resolve them), partition dirs key physical names, and extra
    non-table columns (``_change_type`` on cdc files) pass through
    under their own names — the spec's on-disk shape.  Unmapped
    tables stage unchanged.  Returns ``_stage_and_move``'s tuples
    (partitionValues keyed physical for mapped tables, exactly what
    the commit actions need)."""
    phys = snap.physical_names
    part_by = snap.partition_columns
    if phys:
        if snap.field_ids:
            # footers must carry the ids the table binds by
            df.sparkSession.conf.set(
                "spark.sql.parquet.fieldId.write.enabled", "true"
            )
        table_cols = {f.name for f in snap.schema.fields}
        cols = []
        for f in snap.schema.fields:
            if f.name not in df.columns:
                continue
            if snap.field_ids:
                if _is_nested(f.dataType):
                    raise NotImplementedError(
                        f"write to column-mapped table: nested "
                        f"column {f.name!r} under mode=id — the "
                        "footer field ids of INNER fields cannot be "
                        "stamped through an alias; mode=name nested "
                        "writes work"
                    )
                cols.append(
                    F.col(f.name).alias(
                        phys.get(f.name, f.name),
                        metadata={
                            "parquet.field.id": snap.field_ids[f.name]
                        },
                    )
                )
            else:
                c = F.col(f.name)
                if _is_nested(f.dataType):
                    # nested rename logical -> physical: positional
                    # struct cast renames every level, pure codegen
                    c = c.cast(
                        _physical_datatype(
                            f.dataType, "write_delta (mapped)"
                        )
                    )
                cols.append(c.alias(phys.get(f.name, f.name)))
        cols += [
            F.col(c) for c in df.columns if c not in table_cols
        ]
        df = df.select(*cols)
        part_by = [phys.get(c, c) for c in snap.partition_columns]
    return _stage_and_move(df, table, part_by, subdir=subdir or "")


def write_delta(
    df: DataFrame,
    path: str | os.PathLike,
    mode: str = "append",
    partition_by: list[str] | None = None,
    txn: tuple[str, int] | None = None,
    merge_schema: bool = False,
) -> int | None:
    """Export a DataFrame as one Delta commit; returns the committed
    version.  ``append`` adds files; ``overwrite`` also tombstones
    every previously-live file (logical replace — old data stays on
    disk for time travel, exactly Delta's semantics); ``error``
    refuses to touch an existing table.

    ``txn=(app_id, version)`` stamps the commit with the protocol's
    SetTransaction action AND makes the write IDEMPOTENT: if the
    table already records a txn for ``app_id`` at or past ``version``
    the write is skipped and None returned — the exactly-once
    contract streaming sinks key on (see ``delta_stream_sink``).

    ``merge_schema=True`` (delta-spark's mergeSchema) lets an append
    ADD new nullable columns: the commit carries a widened metaData
    whose schema is the table's columns followed by the new ones, and
    readers return nulls for the new columns in pre-evolution files
    (the parquet missing-column rule).  On a COLUMN-MAPPED table the
    added columns get fresh ``physicalName`` uuids and columnMapping
    ids past ``delta.columnMapping.maxColumnId`` (never reused), the
    bumped maxColumnId rides the same commit, and staging writes the
    new columns under their physical uuids (mode=id also stamps the
    footer field id).  Dropping or retyping existing columns still
    refuses — that is an overwrite.

    The commit publish is ``open(log/N.json, 'x')`` — atomic against
    local concurrent writers (loser gets FileExistsError, retries on
    the next version); a distributed deployment swaps this one call
    for a conditional PUT, the TableLedger publish contract."""
    if mode not in ("append", "overwrite", "error"):
        raise ValueError(f"write_delta: unknown mode {mode!r}")
    table = Path(path)
    spark = df.sparkSession
    next_v, snap = _live_state(spark, table)
    if txn is not None:
        app_id, txn_v = str(txn[0]), int(txn[1])
        if snap is not None and snap.txns.get(app_id, -1) >= txn_v:
            return None  # already committed: idempotent replay
    if snap is not None and mode == "error":
        raise FileExistsError(
            f"write_delta: Delta table already exists at {table}"
        )
    partition_by = list(
        partition_by
        if partition_by is not None
        else (snap.partition_columns if snap else [])
    )
    if snap is not None and mode == "append":
        if partition_by != snap.partition_columns:
            raise ValueError(
                f"write_delta: append with partition_by={partition_by} "
                f"onto a table partitioned by {snap.partition_columns}"
            )
        table_schema = StructType.fromJson(
            json.loads(snap.metadata["schemaString"])
        )
        if [
            (f.name, _strip_meta(f.dataType))
            for f in table_schema.fields
        ] != [
            (f.name, _strip_meta(f.dataType))
            for f in df.schema.fields[: len(table_schema.fields)]
        ] or (
            len(df.schema.fields) != len(table_schema.fields)
            and not merge_schema
        ):
            if merge_schema:
                raise ValueError(
                    "write_delta: merge_schema appends may only ADD "
                    "columns after the table's existing ones — "
                    f"table {[f.name for f in table_schema.fields]}, "
                    f"append {[f.name for f in df.schema.fields]}"
                )
            raise ValueError(
                "write_delta: append schema differs from the table "
                "schema; use mode='overwrite' to replace it, or "
                "merge_schema=True to add new nullable columns"
            )
    missing = [c for c in partition_by if c not in df.columns]
    if missing:
        raise ValueError(
            f"write_delta: partition_by columns {missing} not in "
            f"DataFrame columns {df.columns}"
        )

    # merge_schema widening, resolved BEFORE staging so a
    # column-mapped append stages its NEW columns under their fresh
    # physicalName uuids (and mode=id footer field ids)
    evolved_meta: dict | None = None
    stage_snap = snap
    if (
        snap is not None
        and mode == "append"
        and merge_schema
        and json.loads(snap.metadata["schemaString"])
        != json.loads(df.schema.json())
    ):
        # The existing columns come from the TABLE schema VERBATIM —
        # building them from the incoming df would silently tighten
        # nullability and drop field metadata; new columns are forced
        # nullable (pre-evolution files return null for them, the
        # parquet missing-column rule).
        table_struct = StructType.fromJson(
            json.loads(snap.metadata["schemaString"])
        )
        fresh = df.schema.fields[len(table_struct.fields):]
        if snap.physical_names:
            # column-mapped evolution: each ADDED column gets a fresh
            # physicalName uuid and a columnMapping id past
            # delta.columnMapping.maxColumnId (the spec's
            # never-reuse-ids rule); maxColumnId bumps in the same
            # metaData commit
            cfg = dict(snap.metadata.get("configuration") or {})
            used = [
                int(cfg.get("delta.columnMapping.maxColumnId", 0) or 0)
            ]

            def _collect_ids(dt):
                """Every columnMapping id at every nesting level —
                the never-reuse floor must see NESTED struct field
                ids too, or a foreign-written table with a stale
                maxColumnId could hand a new column a nested
                field's id (ADVICE r16)."""
                from pyspark.sql.types import ArrayType, MapType

                if isinstance(dt, StructType):
                    for f in dt.fields:
                        fid = (f.metadata or {}).get(
                            "delta.columnMapping.id"
                        )
                        if fid is not None:
                            used.append(int(fid))
                        _collect_ids(f.dataType)
                elif isinstance(dt, ArrayType):
                    _collect_ids(dt.elementType)
                elif isinstance(dt, MapType):
                    _collect_ids(dt.keyType)
                    _collect_ids(dt.valueType)

            _collect_ids(table_struct)
            next_id = max(used)

            def _map_new_dt(dt):
                """Fresh columnMapping metadata for NESTED fields of
                an added column (each nested struct field needs its
                own physicalName/id or later mapped reads refuse)."""
                nonlocal next_id
                from pyspark.sql.types import ArrayType, MapType

                if isinstance(dt, StructType):
                    fs = []
                    for nf in dt.fields:
                        next_id += 1
                        fs.append(
                            StructField(
                                nf.name,
                                _map_new_dt(nf.dataType),
                                True,
                                metadata={
                                    "delta.columnMapping.id": next_id,
                                    "delta.columnMapping."
                                    "physicalName": (
                                        f"col-{uuid.uuid4()}"
                                    ),
                                },
                            )
                        )
                    return StructType(fs)
                if isinstance(dt, ArrayType):
                    return ArrayType(
                        _map_new_dt(dt.elementType), dt.containsNull
                    )
                if isinstance(dt, MapType):
                    return MapType(
                        _map_new_dt(dt.keyType),
                        _map_new_dt(dt.valueType),
                        dt.valueContainsNull,
                    )
                return dt

            new_fields = []
            for f in fresh:
                mapped_dt = _map_new_dt(f.dataType)
                next_id += 1
                new_fields.append(
                    StructField(
                        f.name,
                        mapped_dt,
                        True,
                        metadata={
                            "delta.columnMapping.id": next_id,
                            "delta.columnMapping.physicalName": (
                                f"col-{uuid.uuid4()}"
                            ),
                        },
                    )
                )
            widened = StructType(
                list(table_struct.fields) + new_fields
            )
            cfg["delta.columnMapping.maxColumnId"] = str(next_id)
            evolved_meta = {
                **snap.metadata,
                "schemaString": widened.json(),
                "configuration": cfg,
            }
            stage_snap = dc_replace(
                snap,
                schema=widened,
                metadata=evolved_meta,
                physical_names=_physical_names(
                    widened, evolved_meta, "write_delta"
                ),
                field_ids=_field_ids(
                    widened, evolved_meta, "write_delta"
                ),
            )
        else:
            widened = StructType(
                list(table_struct.fields)
                + [
                    StructField(f.name, f.dataType, True)
                    for f in fresh
                ]
            )
            evolved_meta = {
                **snap.metadata,
                "schemaString": widened.json(),
            }

    if snap is not None and mode == "append":
        # CHECK constraints gate the rows BEFORE staging (one
        # aggregate over the incoming batch; overwrites reset the
        # configuration, constraints included)
        _check_constraints(df, snap.metadata, "write_delta")

    table.mkdir(parents=True, exist_ok=True)
    log = _log_path(table)
    log.mkdir(exist_ok=True)
    if snap is not None and mode == "append" and snap.physical_names:
        # column-mapped append (round 15): stage PHYSICAL-named
        # parquet (mode=id also stamps footer field ids) so the
        # files sit next to the table's existing physical layout
        added = _stage_logical(df, table, stage_snap)
    else:
        added = _stage_and_move(df, table, partition_by)

    actions: list[dict] = [
        _commit_info(
            "WRITE" if mode == "append" else mode.upper(),
            {
                "mode": (
                    "Append" if mode == "append" else "Overwrite"
                ),
                "partitionBy": partition_by,
            },
        )
    ]
    if txn is not None:
        actions.append(
            {
                "txn": {
                    "appId": app_id,
                    "version": txn_v,
                    "lastUpdated": int(time.time() * 1000),
                }
            }
        )
    if snap is None or mode == "overwrite":
        actions.append({"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}})
        actions.append(
            {
                "metaData": {
                    "id": (snap.metadata.get("id") if snap else None)
                    or str(uuid.uuid4()),
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": df.schema.json(),
                    "partitionColumns": partition_by,
                    "configuration": {},
                }
            }
        )
    elif evolved_meta is not None:
        # schema evolution: the widened metaData rides the append
        # commit (resolved above, before staging)
        actions.append({"metaData": evolved_meta})
    if snap is not None and mode == "overwrite":
        for rel, _pv, _sz, _st in snap.files:
            actions.append(
                {
                    "remove": {
                        "path": quote(rel, safe="/="),
                        "dataChange": True,
                    }
                }
            )
    actions += _add_actions(added)
    try:
        # append = blind append (tolerates concurrent adds/removes);
        # overwrite READS the table it replaces, so any concurrent
        # data change conflicts.  Losing a race to a commit that
        # already recorded our txn app id means the idempotent
        # payload is applied — same skip contract as the pre-check.
        return _commit_with_retry(
            table, next_v - 1, actions,
            op="write_delta",
            conflict_on_add=(mode == "overwrite" and snap is not None),
            conflict_on_remove=(
                mode == "overwrite" and snap is not None
            ),
            txn_check=(
                (app_id, txn_v) if txn is not None else None
            ),
        )
    except DeltaConcurrentTransactionError:
        return None


def delete_from_delta(
    spark: SparkSession,
    path: str | os.PathLike,
    condition,
    partition_filter: dict | None = None,
    min_max_filter: dict | None = None,
) -> int:
    """Row-level DELETE via deletion vectors — the modern delta-spark
    delete shape: matching rows are marked dead in per-file DV
    sidecars (the from-scratch Z85 + roaring + CRC encoder) and the
    commit re-adds each touched file with its new DV (remove + add of
    the same path, both ``dataChange``), so no data file is
    rewritten.  ``condition`` is a SQL predicate string or a Column
    over the table's LOGICAL columns (partition columns included).
    Returns the number of rows newly deleted.

    Plan shape (fully distributed, one job): the matched (file, pos)
    pairs shuffle by file and each touched file's DV sidecar is
    merged with its old one and written EXECUTOR-side in an
    ``applyInPandas`` stage — the driver holds only one descriptor
    row per touched file at ANY delete breadth (a
    delete-every-row-in-domain-X over a 100 TB table never
    materializes row indexes driver-side).  Files whose EVERY live
    row matches are dropped outright (remove only, no 100%-dead DV).
    Existing DVs merge: the new bitmap is old ∪ matched.  The commit
    upgrades the protocol to reader 3 / writer 7 +
    ``deletionVectors`` when the table does not carry it yet.
    Column-mapped tables refuse (the same guard as appends).

    ``partition_filter`` / ``min_max_filter`` PRUNE the file list
    before the scan (read_delta's contracts) — the 100 TB shape for
    targeted deletes: a delete known to touch one partition or one
    key range scans only the files that can match, while
    ``condition`` still decides row-exactly within them.  The caller
    must ensure the prune does not exclude matching files (same
    responsibility as any manual partition predicate)."""
    table = Path(path)
    snap = delta_snapshot(spark, table)
    actions, n_deleted = _dv_delete_plan(
        spark, table, snap, condition, partition_filter,
        min_max_filter, what="delete_from_delta",
    )
    if n_deleted == 0:
        return 0
    if _cdf_enabled(snap):
        # the CDF write side: the deleted rows land as authoritative
        # change rows under _change_data/ (read through read_delta so
        # existing DVs are already applied)
        cond = (
            F.expr(condition) if isinstance(condition, str) else condition
        )
        src = read_delta(
            spark,
            table,
            partition_filter=partition_filter,
            min_max_filter=min_max_filter,
        ).where(cond)
        actions += _stage_cdc_actions(
            src.withColumn("_change_type", F.lit("delete")),
            table,
            snap,
        )
    _commit_dv_actions(
        table, snap, actions,
        params={
            "predicate": (
                condition if isinstance(condition, str)
                else str(condition)
            )
        },
    )
    return n_deleted


def _dv_delete_plan(
    spark: SparkSession,
    table: Path,
    snap: DeltaSnapshot,
    condition,
    partition_filter: dict | None,
    min_max_filter: dict | None,
    what: str,
) -> tuple[list[dict], int]:
    """The predicate DV row-marking plan: scan the (pruned) files,
    mark the rows ``condition`` selects, and return the remove +
    re-add-with-merged-DV actions plus the number of rows newly
    deleted — delete_from_delta commits them as-is; update_delta
    appends its rewritten-row adds first.  The scan reads the raw
    files (rows an old DV already deleted are subtracted per file in
    ``_dv_pass``), so no DV anti-join runs before the marking."""
    cond = (
        F.expr(condition) if isinstance(condition, str) else condition
    )
    phys = snap.physical_names

    def P(c: str) -> str:  # logical -> physical (mapped tables)
        return phys.get(c, c) if phys else c

    fields = {f.name: f for f in snap.schema.fields}
    data_fields = [
        f for f in snap.schema.fields
        if f.name not in snap.partition_columns
    ]
    if snap.field_ids:
        # mode=id: logical request names + footer-id binding (nested
        # inner fields carry their ids too — round 16)
        spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
        data_schema = StructType(
            [
                StructField(
                    f.name, _id_datatype(f.dataType, what), f.nullable,
                    {"parquet.field.id": snap.field_ids[f.name]},
                )
                for f in data_fields
            ]
        )
    else:
        data_schema = StructType(
            [
                StructField(
                    P(f.name),
                    _physical_datatype(f.dataType, what)
                    if phys
                    else f.dataType,
                    f.nullable,
                )
                for f in data_fields
            ]
        )
    def _keep(pv: dict) -> bool:
        for c, want in (partition_filter or {}).items():
            if c not in snap.partition_columns:
                raise ValueError(
                    f"{what}: partition_filter names "
                    f"non-partition column {c!r}"
                )
            got = pv.get(P(c))
            if want is None:
                if got is not None:
                    return False
            elif got is None or str(want) != got:
                return False
        return True

    def _stats_keep(st: dict | None) -> bool:
        if not st or not min_max_filter:
            return True
        for c, (lo, hi) in min_max_filter.items():
            mn = (st.get("minValues") or {}).get(P(c))
            mx = (st.get("maxValues") or {}).get(P(c))
            if lo is not None and mx is not None and mx < lo:
                return False
            if hi is not None and mn is not None and mn > hi:
                return False
        return True

    kept = [
        (rel, str(table / rel), pv, st)
        for rel, pv, _sz, st in snap.files
        if _keep(pv) and _stats_keep(st)
    ]
    if not kept:
        return [], 0
    df = spark.read.schema(data_schema).parquet(
        *[p for _r, p, _pv, _st in kept]
    )
    if phys and not snap.field_ids:
        # mode=name: physical parquet columns come back logical
        # (nested shapes cast positionally back onto logical names)
        sel = [
            (
                F.col(P(f.name)).cast(f.dataType)
                if _is_nested(f.dataType)
                else F.col(P(f.name))
            ).alias(f.name)
            for f in data_fields
        ]
    else:
        sel = [F.col(f.name) for f in data_fields]
    df = df.select(
        *sel,
        F.col("_metadata.file_path").alias("__df_file"),
        F.col("_metadata.row_index").alias("__df_pos"),
    )
    if snap.partition_columns:
        pv_cols = ", ".join(
            f"__pv_{i} string" for i in range(len(snap.partition_columns))
        )
        mapping = spark.createDataFrame(
            [
                tuple([hadoop_file_uri(p)] + [
                    pv.get(P(c)) for c in snap.partition_columns
                ])
                for _rel, p, pv, _st in kept
            ],
            f"__pv_file string, {pv_cols}",
        )
        df = df.join(
            F.broadcast(mapping), df["__df_file"] == mapping["__pv_file"]
        )
        for i, c in enumerate(snap.partition_columns):
            df = df.withColumn(
                c, F.col(f"__pv_{i}").cast(fields[c].dataType)
            )
    rows = df.where(cond).select(
        "__df_file",
        "__df_pos",
        F.lit(True).alias("__dv_kill"),
        F.lit(True).alias("__dv_m"),
    )
    actions, n_deleted, _m, _src, _max = _dv_pass(
        table, snap, kept, rows, what
    )
    return actions, n_deleted


def _dv_pass(
    table: Path,
    snap: DeltaSnapshot,
    kept: list,
    rows: DataFrame,
    what: str,
) -> tuple[list[dict], int, int, int, int]:
    """Turn marked rows into DV commit actions in ONE distributed
    pass.  ``kept`` lists the scanned files ([(rel, abs path,
    partitionValues, stats)]); ``rows`` carries ``__df_file`` /
    ``__df_pos`` (the row's file URI and row index), ``__dv_kill``
    (the row dies) and ``__dv_m`` (the row counts as matched), and
    optionally merge's per-key source counts: ``__src_n`` (source
    rows with the row's key) and ``__src_first`` (the key's one
    counted row).  Returns (actions, rows newly deleted, of them
    matched, summed ``__src_n`` over counted rows, largest
    ``__src_n``).

    Scale shape (round 15 — distributed, the delete_from_iceberg
    discipline): the rows shuffle by file, so only files with marked
    rows get a task, and each file's new DV sidecar is merged with
    its old one and WRITTEN entirely executor-side inside
    ``applyInPandas`` — the driver only ever holds one descriptor
    row per touched file, never a row-index list, at any delete
    breadth.  A task learns its file's physical row count (the
    whole-file-drop test) from the add's ``numRecords`` stat, or
    from the file's footer when the add carries no stats.  Per-task
    memory is O(marked rows in ONE file), the same bound a
    delta-spark scan task's bitmap build has."""
    # per-kept-file metadata the DV tasks need: old descriptors, stat
    # row counts, footer paths for stat-less adds
    uri_to_rel: dict[str, str] = {}
    old_descs: dict[str, dict] = {}
    file_totals: dict[str, int] = {}
    footer_paths: dict[str, str] = {}
    for rel, p, _pv, st in kept:
        uri = hadoop_file_uri(p)
        uri_to_rel[uri] = rel
        if snap.dvs.get(rel):
            old_descs[uri] = snap.dvs[rel]
        n = (st or {}).get("numRecords")
        if n is None:
            footer_paths[uri] = p
        else:
            file_totals[uri] = int(n)
    # each file's task merges the old DV and writes the new sidecar
    # EXECUTOR-side, returning ONE descriptor row.  The closure
    # carries the per-kept-file metadata above — O(#kept files), which
    # PySpark ships as one broadcast once it outgrows the UDF
    # compression threshold.
    table_root = str(table)

    def _build_dv(pdf: "pd.DataFrame") -> "pd.DataFrame":
        from snapflow_spark.sources.deletion_vectors import (
            deleted_row_indexes,
            write_dv_file,
        )

        uri = pdf["__df_file"].iloc[0]
        src_rows = src_max = 0
        if "__src_n" in pdf:
            n_src = pdf["__src_n"].fillna(0).astype("int64")
            src_rows = int(n_src[pdf["__src_first"]].sum())
            src_max = int(n_src.max())
        old_desc = old_descs.get(uri)
        old = (
            set(deleted_row_indexes(table_root, old_desc))
            if old_desc
            else set()
        )
        kill = pdf[pdf["__dv_kill"]]
        pairs = {
            int(i): bool(m) for i, m in zip(kill["__df_pos"], kill["__dv_m"])
        }
        matched = set(pairs) - old
        desc_json = None
        if matched:
            new_set = old | matched
            total = file_totals.get(uri)
            if total is None:  # add without stats: the footer knows
                import pyarrow.parquet as pq

                total = pq.ParquetFile(footer_paths[uri]).metadata.num_rows
            if len(new_set) < total:  # else every row dead: drop the file
                desc_json = json.dumps(
                    write_dv_file(table_root, sorted(new_set)),
                    separators=(",", ":"),
                )
        return pd.DataFrame(
            {
                "file": [uri],
                "n_new": [len(matched)],
                "n_new_m": [sum(1 for i in matched if pairs[i])],
                "src_rows": [src_rows],
                "src_max": [src_max],
                "descriptor": [desc_json],
            }
        )

    desc_rows = (
        rows.groupBy("__df_file")
        .applyInPandas(
            _build_dv,
            "file string, n_new long, n_new_m long, src_rows long, "
            "src_max long, descriptor string",
        )
        .collect()  # O(#touched files): one descriptor row each
    )
    actions: list[dict] = []
    n_deleted = n_deleted_matched = src_rows = src_max = 0
    by_rel = {rel: (pv, st) for rel, _p, pv, st in kept}
    sizes = {rel: sz for rel, _pv, sz, _st in snap.files}
    for row in sorted(desc_rows, key=lambda r: r["file"]):
        if row["file"] not in uri_to_rel:
            raise RuntimeError(
                f"{what}: scan reported unknown file {row['file']!r}"
            )
        src_rows += int(row["src_rows"])
        src_max = max(src_max, int(row["src_max"]))
        if not row["n_new"]:
            continue  # nothing newly dead in this file
        rel = uri_to_rel[row["file"]]
        n_deleted += int(row["n_new"])
        n_deleted_matched += int(row["n_new_m"])
        pv, st = by_rel[rel]
        actions.append(
            {"remove": {"path": quote(rel, safe="/="), "dataChange": True,
                        "partitionValues": pv}}
        )
        if row["descriptor"] is None:
            continue  # every physical row dead: drop the file
        add: dict = {
            "path": quote(rel, safe="/="),
            "partitionValues": pv,
            "size": sizes[rel],
            "modificationTime": int(time.time() * 1000),
            "dataChange": True,
            "deletionVector": json.loads(row["descriptor"]),
        }
        if st is not None:
            add["stats"] = json.dumps(st, separators=(",", ":"))
        actions.append({"add": add})
    return actions, n_deleted, n_deleted_matched, src_rows, src_max


def _cdf_enabled(snap: DeltaSnapshot) -> bool:
    return (
        str(
            (snap.metadata.get("configuration") or {}).get(
                "delta.enableChangeDataFeed", ""
            )
        ).lower()
        == "true"
    )


def _stage_cdc_actions(
    changes: DataFrame, table: Path, snap: "DeltaSnapshot"
) -> list[dict]:
    """Stage change rows (data columns + ``_change_type``) under
    ``_change_data/`` and return the commit's ``cdc`` actions — the
    protocol's CDF write side.  Readers treat these as the
    AUTHORITATIVE change rows for the commit (read_delta_cdf's
    contract), so the caller emits them only when it also emits the
    matching add/remove bookkeeping.  Column-mapped tables stage
    physical-named change files (``_change_type`` stays bare — it is
    a metadata column, never mapped)."""
    staged = _stage_logical(
        changes, table, snap, subdir="_change_data"
    )
    return [
        {
            "cdc": {
                "path": rel,
                "partitionValues": pv,
                "size": sz,
                "dataChange": False,
            }
        }
        for rel, pv, sz, _mt, _st in staged
    ]


def _commit_dv_actions(
    table: Path, snap: DeltaSnapshot, actions: list[dict],
    operation: str = "DELETE",
    params: dict | None = None,
    txn_check: tuple | None = None,
) -> int:
    """Publish one commit of DV-marking actions, upgrading the
    protocol to 3/7 + deletionVectors when the table lacks it.
    Row-level operations READ the table (their predicate scanned
    every live file), so the optimistic retry conflicts with any
    concurrent data change — a delete racing an overwrite raises
    the named conflict instead of silently resurrecting rows."""
    actions.insert(0, _commit_info(operation, params))
    feats = set(snap.protocol.get("readerFeatures") or [])
    if "deletionVectors" not in feats:
        actions.insert(0, {
            "protocol": {
                "minReaderVersion": 3,
                "minWriterVersion": 7,
                "readerFeatures": sorted(feats | {"deletionVectors"}),
                "writerFeatures": sorted(
                    set(snap.protocol.get("writerFeatures") or [])
                    | {"deletionVectors"}
                ),
            }
        })
    return _commit_with_retry(
        table, snap.version, actions,
        op=operation.lower() + "_delta",
        conflict_on_add=True,
        conflict_on_remove=True,
        txn_check=txn_check,
    )


def restore_delta(
    spark: SparkSession,
    path: str | os.PathLike,
    version: int | None = None,
    timestamp_ms: int | None = None,
) -> int:
    """RESTORE — roll the table state back to an earlier version as a
    NEW commit (delta-spark's RESTORE TABLE semantics): files live at
    the target version but not now are re-added (their partition
    values, stats and deletion vectors intact), files live now but
    not then are removed, both with ``dataChange`` (a restore IS a
    data change — CDF consumers see the rows come and go).  History
    is preserved: the restore is one more commit, and time travel to
    any version still works.  Returns the new version.  Restoring to
    the current state is a no-op returning the current version.
    Fails loudly at scan time if vacuum already reclaimed the target
    version's files — the same trade time travel makes."""
    table = Path(path)
    cur = delta_snapshot(spark, table)
    target = delta_snapshot(
        spark, table, version=version, timestamp_ms=timestamp_ms
    )
    cur_files = {rel: (pv, sz, st) for rel, pv, sz, st in cur.files}
    tgt_files = {rel: (pv, sz, st) for rel, pv, sz, st in target.files}
    same_files = set(cur_files) == set(tgt_files)
    same_dvs = cur.dvs == target.dvs
    if same_files and same_dvs:
        return cur.version
    actions: list[dict] = [_commit_info("RESTORE")]
    if json.dumps(target.metadata, sort_keys=True) != json.dumps(
        cur.metadata, sort_keys=True
    ):
        actions.append({"metaData": target.metadata})
    for rel in sorted(set(cur_files) - set(tgt_files)):
        pv, _sz, _st = cur_files[rel]
        actions.append(
            {
                "remove": {
                    "path": quote(rel, safe="/="),
                    "dataChange": True,
                    "partitionValues": pv,
                }
            }
        )
    for rel in sorted(tgt_files):
        pv, sz, st = tgt_files[rel]
        in_cur = rel in cur_files
        dv_changed = cur.dvs.get(rel) != target.dvs.get(rel)
        if in_cur and not dv_changed:
            continue  # already live in the right state
        add: dict = {
            "path": quote(rel, safe="/="),
            "partitionValues": pv,
            "size": sz,
            "modificationTime": int(time.time() * 1000),
            "dataChange": True,
        }
        if st is not None:
            add["stats"] = json.dumps(st, separators=(",", ":"))
        dv = target.dvs.get(rel)
        if dv:
            add["deletionVector"] = dv
        actions.append({"add": add})
    # RESTORE reads both endpoint versions' file sets — any
    # concurrent data change invalidates the computed diff
    return _commit_with_retry(
        table, cur.version, actions, op="restore_delta",
        conflict_on_add=True, conflict_on_remove=True,
    )


def optimize_delta(
    spark: SparkSession,
    path: str | os.PathLike,
    target_file_bytes: int = 128 * 1024 * 1024,
    partition_filter: dict | None = None,
    zorder_by: list[str] | None = None,
    zorder_ranges: int = 16,
) -> dict:
    """OPTIMIZE — bin-pack small files and MATERIALIZE deletion
    vectors, Delta's compaction maintenance op.  Per partition, files
    smaller than ``target_file_bytes`` (or carrying a DV — compaction
    purges DVs by rewriting only the live rows) are read back through
    the single-relation scan and rewritten as fewer files; the commit
    removes the compacted files and adds the replacements with
    ``dataChange=false`` on BOTH sides, so CDF consumers see no
    change rows (the protocol's OPTIMIZE convention, which
    read_delta_cdf already honors).  Partitions with fewer than two
    candidates and no DVs are left alone.  ``partition_filter``
    restricts the maintenance to matching partitions.  Returns
    ``{"files_removed": n, "files_added": m, "rows": k}``; a no-op
    returns zeros without committing.

    ``zorder_by=[c1, c2(, c3)]`` (round 16 — OPTIMIZE ZORDER BY):
    EVERY live file in the selected partitions is rewritten with rows
    range-split and sorted on the Morton interleave of the named
    columns (``write_zorder``'s pure-codegen bit-ladder — no UDF),
    so each output file carries tight min/max stats on ALL the keys
    simultaneously and box probes skip most files from the log's
    per-file stats alone; ``zorder_ranges`` bounds the split count
    per partition.  The z-key is computed for the shuffle and
    dropped before staging — the stored schema is unchanged, and the
    per-file stats the commit re-emits are what the pruning reads.

    Old files stay on disk for time travel (vacuum reclaims them
    after retention — including the now-unreferenced DV sidecars).
    Column-mapped tables work (round 15): the rewrite reads through
    _scan_live's physical binding and stages physical-named files."""
    table = Path(path)
    snap = delta_snapshot(spark, table)
    phys = snap.physical_names
    if zorder_by is not None:
        if len(zorder_by) not in (2, 3):
            raise ValueError(
                "optimize_delta: zorder_by interleaves 2 or 3 key "
                "columns (write_zorder's codegen ladder)"
            )
        known = {f.name for f in snap.schema.fields}
        bad = [c for c in zorder_by if c not in known]
        if bad:
            raise ValueError(
                f"optimize_delta: zorder_by columns {bad} not in the "
                f"table schema {sorted(known)}"
            )
        overlap = [c for c in zorder_by if c in snap.partition_columns]
        if overlap:
            raise ValueError(
                f"optimize_delta: zorder_by columns {overlap} are "
                "partition columns — files already split on them"
            )
        from pyspark.sql.types import (
            ByteType,
            DateType,
            IntegerType,
            ShortType,
            TimestampType,
        )

        _Z_OK = (ByteType, ShortType, IntegerType, LongType,
                 DateType, TimestampType)
        by_name = {f.name: f.dataType for f in snap.schema.fields}
        bad_t = [
            c for c in zorder_by if not isinstance(by_name[c], _Z_OK)
        ]
        if bad_t:
            raise ValueError(
                f"optimize_delta: zorder_by columns {bad_t} have "
                "non-integer types — the Morton ladder interleaves "
                "int/long/date/timestamp keys (bucket or hash other "
                "types into one first)"
            )

    def P(c: str) -> str:
        return phys.get(c, c) if phys else c

    def _keep(pv: dict) -> bool:
        for c, want in (partition_filter or {}).items():
            if c not in snap.partition_columns:
                raise ValueError(
                    f"optimize_delta: partition_filter names "
                    f"non-partition column {c!r}"
                )
            got = pv.get(P(c))
            if want is None:
                if got is not None:
                    return False
            elif got is None or str(want) != got:
                return False
        return True

    groups: dict[tuple, list] = {}
    for rel, pv, sz, st in snap.files:
        if _keep(pv):
            key = tuple(pv.get(c) for c in snap.partition_columns)
            groups.setdefault(key, []).append((rel, pv, sz))
    victims: list[tuple[str, str, dict]] = []  # (rel, abs, pv)
    for key, entries in groups.items():
        if zorder_by is not None:
            # OPTIMIZE ZORDER rewrites EVERY live file in the
            # selected partitions — clustering is the point, not
            # just bin-packing small files
            cand = list(entries)
        else:
            cand = [
                (rel, pv, sz)
                for rel, pv, sz in entries
                if sz < target_file_bytes or rel in snap.dvs
            ]
            if len(cand) < 2 and not any(
                rel in snap.dvs for rel, _pv, _sz in cand
            ):
                continue
        victims.extend(
            (rel, str(table / rel), pv) for rel, pv, _sz in cand
        )
    if not victims:
        return {"files_removed": 0, "files_added": 0, "rows": 0}
    rows_df = _scan_live(spark, snap, victims)
    if zorder_by is not None:
        from snapflow_spark.sources.io import (
            zorder_key3,
            zorder_sort_key,
        )

        from pyspark.sql.types import DateType, TimestampType

        def _zcol(c):
            t = {f.name: f.dataType for f in snap.schema.fields}[c]
            if isinstance(t, DateType):
                return F.unix_date(F.col(c))
            if isinstance(t, TimestampType):
                return F.unix_seconds(F.col(c))
            return F.col(c)

        z = (
            zorder_key3(*[_zcol(c) for c in zorder_by])
            if len(zorder_by) == 3
            else zorder_sort_key(_zcol(zorder_by[0]),
                                 _zcol(zorder_by[1]))
        )
        keys = [*snap.partition_columns, "__z"]
        rows_df = (
            rows_df.withColumn("__z", z)
            .repartitionByRange(int(zorder_ranges), *keys)
            .sortWithinPartitions(*keys)
            .drop("__z")
        )
    elif snap.partition_columns:
        # one write task per partition -> one compacted file each
        rows_df = rows_df.repartition(*snap.partition_columns)
    else:
        by_rel_sz = {rel: sz for rel, _pv, sz, _st in snap.files}
        total = sum(by_rel_sz.get(rel, 0) for rel, _p, _pv in victims)
        rows_df = rows_df.coalesce(
            max(1, -(-total // int(target_file_bytes)))
        )
    added = _stage_logical(rows_df, table, snap)
    actions: list[dict] = [
        _commit_info(
            "OPTIMIZE",
            {
                "targetSize": str(int(target_file_bytes)),
                "zOrderBy": zorder_by,
            },
        )
    ]
    for rel, _p, pv in sorted(victims):
        actions.append(
            {
                "remove": {
                    "path": quote(rel, safe="/="),
                    "dataChange": False,
                    "partitionValues": pv,
                }
            }
        )
    n_rows = 0
    for rel, pv, sz, mtime_ms, st in added:
        add: dict = {
            "path": rel,
            "partitionValues": pv,
            "size": sz,
            "modificationTime": mtime_ms,
            "dataChange": False,
        }
        if st is not None:
            n_rows += int(st.get("numRecords") or 0)
            add["stats"] = json.dumps(st, separators=(",", ":"))
        actions.append({"add": add})
    # OPTIMIZE tolerates concurrent appends (it only read its
    # victims); a concurrent remove of a victim is delete/delete —
    # caught via the our_removes intersection
    _commit_with_retry(
        table, snap.version, actions, op="optimize_delta",
    )
    return {
        "files_removed": len(victims),
        "files_added": len(added),
        "rows": n_rows,
    }


def update_delta(
    spark: SparkSession,
    path: str | os.PathLike,
    condition,
    set_: dict,
    partition_filter: dict | None = None,
    min_max_filter: dict | None = None,
) -> int:
    """Row-level UPDATE — the modern delta-spark merge-on-read shape:
    matching rows are marked dead in their files via deletion vectors
    (no data file rewritten) and their UPDATED copies land in new
    files, all in ONE atomic commit.  ``condition`` is a SQL
    predicate string or Column; ``set_`` maps column name -> SQL
    expression string or Column evaluated against the OLD row (so
    ``{"price": "price * 1.1"}`` works).  Updates to partition
    columns move rows to their new partition naturally — the
    rewritten rows stage through the same hive-layout writer appends
    use.  Returns the number of rows updated.

    ``partition_filter`` / ``min_max_filter`` prune the file list
    like delete_from_delta.  The rewritten-row source reads through
    ``read_delta`` (single-relation plan, existing DVs applied), so
    already-deleted rows can never resurrect as updated copies.
    Column-mapped tables work (round 15): the scan binds physical
    names / field ids and the rewritten rows stage physical."""
    table = Path(path)
    snap = delta_snapshot(spark, table)
    fields = {f.name: f for f in snap.schema.fields}
    bad = set(set_) - set(fields)
    if bad:
        raise ValueError(
            f"update_delta: set_ names unknown columns {sorted(bad)}"
        )
    if not set_:
        raise ValueError("update_delta: empty set_ — nothing to update")
    actions, n = _dv_delete_plan(
        spark, table, snap, condition, partition_filter,
        min_max_filter, what="update_delta",
    )
    if n == 0:
        return 0
    cond = F.expr(condition) if isinstance(condition, str) else condition
    src = read_delta(
        spark,
        table,
        partition_filter=partition_filter,
        min_max_filter=min_max_filter,
    ).where(cond)
    out_cols = [f.name for f in snap.schema.fields]
    updated = src.select(
        *[
            (
                (
                    F.expr(set_[c])
                    if isinstance(set_[c], str)
                    else set_[c]
                )
                .cast(fields[c].dataType)
                .alias(c)
                if c in set_
                else F.col(c)
            )
            for c in out_cols
        ]
    )
    _check_constraints(updated, snap.metadata, "update_delta")
    actions += _add_actions(_stage_logical(updated, table, snap))
    if _cdf_enabled(snap):
        # the CDF write side: pre/post images as authoritative change
        # rows (delta's update_preimage/update_postimage pair)
        changes = src.withColumn(
            "_change_type", F.lit("update_preimage")
        ).unionByName(
            updated.withColumn(
                "_change_type", F.lit("update_postimage")
            )
        )
        actions += _stage_cdc_actions(changes, table, snap)
    _commit_dv_actions(
        table, snap, actions, operation="UPDATE",
        params={
            "predicate": (
                condition if isinstance(condition, str)
                else str(condition)
            ),
            "set": sorted(set_),
        },
    )
    return n


def merge_delta(
    spark: SparkSession,
    path: str | os.PathLike,
    source: DataFrame,
    on: list[str],
    when_matched: str | dict | None = "update",
    when_not_matched: str | None = "insert",
    when_not_matched_by_source: str | None = None,
    txn: tuple[str, int] | None = None,
) -> dict | None:
    """MERGE / upsert — the CDC apply shape (delta-spark's ``MERGE
    INTO`` keyed on an equi-join): target rows whose ``on`` key
    appears in ``source`` are handled by ``when_matched``, source
    rows matching no target row by ``when_not_matched``, all in ONE
    atomic commit (merge-on-read: matched rows die via deletion
    vectors, replacements and inserts land as new files — no data
    file is rewritten).

    ``when_matched``: ``"update"`` replaces the target row with the
    source row (source must carry every table column); ``"delete"``
    drops it; a dict maps column -> SQL expression/Column evaluated
    against the aliased join (``"source.qty + target.qty"``); None
    leaves matched target rows untouched.  ``when_not_matched``:
    ``"insert"`` appends the unmatched source rows, None drops them.
    ``when_not_matched_by_source="delete"`` (the FULL-SYNC clause)
    drops target rows whose key appears in NO source row — after the
    merge the table holds exactly the source's key set; it shares ONE
    DV pass with the matched deletes (two plans would publish
    conflicting re-adds for a file holding both kinds of rows) and
    disables the touched-file prune (unmatched rows live anywhere).
    Multiple source rows matching ONE target row raise (delta's
    multiple-source-rows-matched rule) — deduplicate the changelog
    first (``dedupe_keep_latest``).

    ``txn=(app_id, version)`` makes the merge IDEMPOTENT exactly like
    ``write_delta(txn=)``: already-recorded versions skip and return
    None — the upsert stream sink's exactly-once contract.  With a
    ``txn``, ``source`` may instead be a function of the highest
    version the table records for ``app_id`` (-1: none) that returns
    the rows still to merge — a replay whose earlier part committed.

    Scale shape: the source keys' bounds PRUNE the target file list
    from log stats and partition values before any scan
    (delta-spark's MERGE touched-file discovery) — a narrow changelog
    against a 100 TB table scans only the files whose key ranges can
    match; the matched rows are marked in ONE distributed match pass
    (DV sidecars are written executor-side), the new rows stage
    through the distributed hive-layout writer, and the driver holds
    only O(#touched files) descriptors + O(#staged files) stats — a
    billion-row changelog never materializes rows driver-side.
    A merge is at most three steps.  For ``update`` + ``insert`` the
    new rows are the projected source whatever the match finds, so
    they stage FIRST, and the staged files' stats give the source row
    count and the key bounds with no Spark job.  Then one match pass
    joins the live target rows (file, row index, keys) with per-key
    source counts; its one collect returns the DV descriptors, the
    matched and by-source deletes, the source rows that matched (each
    key counted once, on its first live row) and the largest per-key
    count for the multiple-match rule.  Other clause shapes take the
    bounds and row count from one flat source aggregate and stage
    their new rows (which depend on the match) after the pass, in
    ONE write.  Only integral and string keys the source carries with
    the table's own type get a bound (float keys match NaN = NaN,
    which stats may leave out); by-source deletes prune nothing.  A
    merge that does not commit removes every file it staged.
    CDF-enabled tables emit authoritative change rows
    (update_preimage/postimage pairs, insert, delete).  Returns
    ``{"rows_matched": n, "rows_inserted": m}``: ``n`` target rows
    replaced or deleted, ``m`` = source rows minus source rows whose
    key matched a live target row.

    Column-mapped tables work (round 15): the scan binds physical
    names / field ids, staging renames to physical, and CDF change
    files land physical-named."""
    table = Path(path)
    snap = delta_snapshot(spark, table)
    if txn is not None:
        app_id, txn_v = str(txn[0]), int(txn[1])
        recorded = snap.txns.get(app_id, -1)
        if recorded >= txn_v:
            return None  # already committed: idempotent replay
        if callable(source):
            source = source(recorded)
    if (
        when_matched is None
        and when_not_matched is None
        and when_not_matched_by_source is None
    ):
        raise ValueError(
            "merge_delta: no clauses — pass when_matched, "
            "when_not_matched and/or when_not_matched_by_source"
        )
    if when_not_matched_by_source not in ("delete", None):
        raise ValueError(
            f"merge_delta: when_not_matched_by_source "
            f"{when_not_matched_by_source!r} — 'delete' or None"
        )
    if isinstance(when_matched, str) and when_matched not in (
        "update", "delete",
    ):
        raise ValueError(
            f"merge_delta: when_matched {when_matched!r} — "
            "'update', 'delete', a dict of set expressions, or None"
        )
    if when_not_matched not in ("insert", None):
        raise ValueError(
            f"merge_delta: when_not_matched {when_not_matched!r} — "
            "'insert' or None"
        )
    fields = {f.name: f for f in snap.schema.fields}
    out_cols = [f.name for f in snap.schema.fields]
    on = list(on)
    if not on:
        raise ValueError("merge_delta: empty key list")
    bad = [c for c in on if c not in fields]
    if bad:
        raise ValueError(
            f"merge_delta: key columns {bad} not in the table "
            f"schema {out_cols}"
        )
    bad = [c for c in on if c not in source.columns]
    if bad:
        raise ValueError(
            f"merge_delta: key columns {bad} not in the source "
            f"columns {source.columns}"
        )
    if isinstance(when_matched, dict):
        bad = sorted(set(when_matched) - set(fields))
        if bad:
            raise ValueError(
                f"merge_delta: when_matched sets unknown columns {bad}"
            )

    def _project(df: DataFrame, what: str) -> DataFrame:
        missing = [c for c in out_cols if c not in df.columns]
        if missing:
            raise ValueError(
                f"merge_delta: {what} needs every table column; "
                f"source is missing {missing}"
            )
        return df.select(
            *[
                F.col(c).cast(fields[c].dataType).alias(c)
                for c in out_cols
            ]
        )

    source = source.cache()
    actions: list[dict] = []
    committed = False
    try:
        by_source = when_not_matched_by_source == "delete"
        new_first = when_matched == "update" and when_not_matched == "insert"
        phys = snap.physical_names

        def P(c: str) -> str:
            return phys.get(c, c) if phys else c

        # a bound may only widen the range a join match can lie in:
        # a key gets one only when the source carries the table's own
        # (integral or binary-string) type
        src_types = {f.name: f.dataType for f in source.schema.fields}
        boundable = [
            c for c in on
            if not by_source
            and fields[c].dataType in _BOUNDED_KEY_TYPES
            and src_types.get(c) == fields[c].dataType
        ]
        bounds: dict = {}
        if new_first:
            new_rows = _project(source, "when_matched='update'")
            _check_constraints(new_rows, snap.metadata, "merge_delta")
            staged = _stage_logical(new_rows, table, snap)
            actions += _add_actions(staged)
            n_source = _staged_rows(staged, source)
            stats = [st for *_f, st in staged]
            for c in boundable:
                if c in snap.partition_columns:
                    # null keys match nothing; an unparsed value
                    # leaves the column unbounded
                    mins = maxs = [
                        _pv_value(pv[P(c)], fields[c].dataType)
                        for _r, pv, *_x in staged
                        if pv.get(P(c)) is not None
                    ]
                else:
                    mins = [(st or {}).get("minValues", {}).get(P(c))
                            for st in stats]
                    maxs = [(st or {}).get("maxValues", {}).get(P(c))
                            for st in stats]
                if mins and None not in mins and None not in maxs:
                    bounds[c] = (min(mins), max(maxs))
        else:
            # one flat aggregate: the row count and the key bounds
            agg = source.agg(
                F.count(F.lit(1)).alias("__rows"),
                *[F.min(c).alias(f"__lo_{c}") for c in boundable],
                *[F.max(c).alias(f"__hi_{c}") for c in boundable],
            ).first()
            n_source = int(agg["__rows"])
            for c in boundable:
                lo, hi = agg[f"__lo_{c}"], agg[f"__hi_{c}"]
                if lo is not None and hi is not None:
                    bounds[c] = (lo, hi)

        def in_bounds(pv: dict, st: dict | None) -> bool:
            for c, (lo, hi) in bounds.items():
                if c in snap.partition_columns:
                    mn = mx = _pv_value(pv.get(P(c)), fields[c].dataType)
                else:
                    mn = ((st or {}).get("minValues") or {}).get(P(c))
                    mx = ((st or {}).get("maxValues") or {}).get(P(c))
                if mx is not None and mx < lo or mn is not None and mn > hi:
                    return False
            return True

        kept = [
            (rel, str(table / rel), pv, st)
            for rel, pv, _sz, st in snap.files
            if in_bounds(pv, st)
        ]
        live = _scan_live(
            spark, snap, [(r, p, pv) for r, p, pv, _st in kept],
            positions=True,
        )
        target = live.drop("__df_file", "__df_pos")
        tgt_keys = target.select(*on)
        updated = inserted = None
        if when_matched == "update":
            updated = _project(
                source.join(tgt_keys, on, "left_semi"),
                "when_matched='update'",
            )
        elif isinstance(when_matched, dict):
            # plain (null-UNSAFE) equality, matching the match pass's
            # key join: a null-keyed row never matches
            joined = target.alias("target").join(
                source.alias("source"),
                [
                    F.col(f"target.{c}") == F.col(f"source.{c}")
                    for c in on
                ],
                "inner",
            )
            updated = joined.select(
                *[
                    (
                        (
                            F.expr(when_matched[c])
                            if isinstance(when_matched[c], str)
                            else when_matched[c]
                        )
                        .cast(fields[c].dataType)
                        .alias(c)
                        if c in when_matched
                        else F.col(f"target.{c}").alias(c)
                    )
                    for c in out_cols
                ]
            )
        if when_not_matched == "insert":
            inserted = _project(
                source.join(tgt_keys, on, "left_anti"),
                "when_not_matched='insert'",
            )
        if not new_first:
            # the new rows depend on the match: they stage after it,
            # in ONE write
            if updated is not None and inserted is not None:
                new_rows = updated.unionByName(inserted)
            else:
                new_rows = updated if updated is not None else inserted
            if new_rows is not None and n_source:
                _check_constraints(new_rows, snap.metadata, "merge_delta")

        # the one match pass; a key can sit in several live target
        # rows, so its source count is summed on the first one only
        n_matched = n_by_source = src_matched = src_max = 0
        if kept and (by_source or (when_matched is not None and n_source)):
            counts = source.groupBy(*on).agg(
                F.count(F.lit(1)).alias("__src_n")
            )
            hit = F.col("__src_n").isNotNull()
            first = (
                F.row_number().over(
                    Window.partitionBy(*on).orderBy("__df_file", "__df_pos")
                )
                == 1
            )
            rows = live.select(*on, "__df_file", "__df_pos").join(
                counts, on, "left" if by_source else "inner"
            ).select(
                "__df_file",
                "__df_pos",
                (F.lit(True) if when_matched is not None else ~hit).alias(
                    "__dv_kill"
                ),
                hit.alias("__dv_m"),
                "__src_n",
                first.alias("__src_first"),
            )
            dv_actions, n_total, n_matched, src_matched, src_max = _dv_pass(
                table, snap, kept, rows, "merge_delta"
            )
            actions += dv_actions
            n_by_source = n_total - n_matched
        if when_matched is not None and src_max > 1:
            # delta's multiple-source-rows-matched rule: ambiguous
            # update/delete refuses loudly (what was staged is removed)
            raise ValueError(
                "merge_delta: multiple source rows match one target "
                f"row ({src_max} rows share a matched key) — "
                "deduplicate the changelog first (dedupe_keep_latest)"
            )
        if not new_first and new_rows is not None and n_source:
            staged = _stage_logical(new_rows, table, snap)
            actions += _add_actions(staged)
        n_inserted = 0
        if when_not_matched == "insert":
            if when_matched is None and not by_source:
                # insert-only: the staged rows are exactly the inserts
                n_inserted = _staged_rows(staged, inserted) if n_source else 0
            else:
                n_inserted = n_source - src_matched
        if not actions:
            # nothing changed; a txn-stamped no-op still records the
            # high-water mark so replays stay cheap
            if txn is None:
                return {"rows_matched": 0, "rows_inserted": 0}
        if _cdf_enabled(snap) and (
            n_matched or n_inserted or n_by_source
        ):
            changes = None

            def _tag(df: DataFrame, t: str) -> DataFrame:
                return df.withColumn("_change_type", F.lit(t))

            if when_matched is not None and n_matched:
                pre = _tag(
                    target.join(source.select(*on), on, "left_semi"),
                    "update_preimage"
                    if when_matched != "delete"
                    else "delete",
                )
                changes = pre
                if updated is not None:
                    changes = changes.unionByName(
                        _tag(updated, "update_postimage")
                    )
            if inserted is not None and n_inserted:
                ins = _tag(inserted, "insert")
                changes = (
                    ins if changes is None else changes.unionByName(ins)
                )
            if by_source and n_by_source:
                gone = _tag(
                    target.join(source.select(*on), on, "left_anti"),
                    "delete",
                )
                changes = (
                    gone
                    if changes is None
                    else changes.unionByName(gone)
                )
            if changes is not None:
                actions += _stage_cdc_actions(changes, table, snap)
        if txn is not None:
            # first of the file actions, as write_delta places it: a
            # concurrent writer's conflict check meets the txn before
            # any add or remove and returns None below
            actions.insert(
                0,
                {
                    "txn": {
                        "appId": app_id,
                        "version": txn_v,
                        "lastUpdated": int(time.time() * 1000),
                    }
                },
            )
        try:
            _commit_dv_actions(
                table, snap, actions, operation="MERGE",
                params={"matchedKeys": list(on)},
                txn_check=(
                    (app_id, txn_v) if txn is not None else None
                ),
            )
        except DeltaConcurrentTransactionError:
            return None  # applied by a concurrent writer instance
        committed = True
        out = {"rows_matched": n_matched, "rows_inserted": n_inserted}
        if when_not_matched_by_source is not None:
            out["rows_deleted_by_source"] = n_by_source
        return out
    finally:
        source.unpersist()
        if not committed:
            _discard_staged(table, actions)


_BOUNDED_KEY_TYPES = (
    ByteType(), ShortType(), IntegerType(), LongType(), StringType(),
)


def _pv_value(raw: str | None, dt):
    """A partition value as the key type merge bounds compare
    (integral or string); None when it is null or does not parse."""
    if raw is None or isinstance(dt, StringType):
        return raw
    try:
        return int(raw)
    except ValueError:
        return None


def _staged_rows(staged: list, df: DataFrame) -> int:
    """Rows in the files ``_stage_logical`` staged from ``df``: their
    ``numRecords`` stats, or a count of ``df`` when one is missing."""
    stats = [st for *_f, st in staged]
    if all(st is not None for st in stats):
        return sum(int(st["numRecords"]) for st in stats)
    return df.count()


def _add_actions(staged: list) -> list[dict]:
    """``add`` actions for files ``_stage_and_move`` staged."""
    out = []
    for rel, pv, sz, mtime_ms, st in staged:
        add: dict = {
            "path": rel,
            "partitionValues": pv,
            "size": sz,
            # required by the Delta protocol's add action; real
            # delta-spark readers reject commits without it
            "modificationTime": mtime_ms,
            "dataChange": True,
        }
        if st is not None:
            add["stats"] = json.dumps(st, separators=(",", ":"))
        out.append({"add": add})
    return out


def _discard_staged(table: Path, actions: list[dict]) -> None:
    """Remove what an uncommitted operation staged: its new data and
    change files and its new DV sidecars (a re-add of a live file
    with a new DV keeps the data file)."""
    from snapflow_spark.sources.deletion_vectors import _dv_sidecar_path

    for a in actions:
        rec = a.get("add") or a.get("cdc")
        if rec is None:
            continue
        dv = rec.get("deletionVector")
        if dv is None:
            (table / unquote(rec["path"])).unlink(missing_ok=True)
        elif dv.get("storageType") == "u":
            _dv_sidecar_path(table, dv["pathOrInlineDv"]).unlink(
                missing_ok=True
            )


def _check_constraints(
    df: DataFrame, metadata: dict, what: str
) -> None:
    """Enforce the table's CHECK constraints
    (``delta.constraints.<name>`` configuration entries — the
    protocol's constraint mechanism) on rows about to be written:
    a row violates when its expression evaluates to FALSE (SQL
    semantics — NULL passes; ``not_null`` is nullability's job).
    ALL constraints count in ONE aggregate pass; any violation
    raises with the constraint name, expression and row count —
    never a silent partial write."""
    cons = {
        k[len("delta.constraints."):]: v
        for k, v in (metadata.get("configuration") or {}).items()
        if k.startswith("delta.constraints.") and v
    }
    if not cons:
        return
    aggs = [
        F.sum(
            F.when(F.expr(expr) == F.lit(False), 1).otherwise(0)
        ).alias(f"__c_{i}")
        for i, (_name, expr) in enumerate(sorted(cons.items()))
    ]
    row = df.agg(*aggs).collect()[0]
    bad = {
        name: (expr, int(row[f"__c_{i}"] or 0))
        for i, (name, expr) in enumerate(sorted(cons.items()))
        if int(row[f"__c_{i}"] or 0)
    }
    if bad:
        detail = "; ".join(
            f"{name}: ({expr}) false for {n} row(s)"
            for name, (expr, n) in sorted(bad.items())
        )
        raise ValueError(
            f"{what}: CHECK constraint violation — {detail}"
        )


def _mapped_schema_commit(
    spark: SparkSession,
    path: str | os.PathLike,
    what: str,
) -> tuple["DeltaSnapshot", StructType, Path]:
    """Shared precondition for metadata-only column surgery: the
    table must be column-mapped (physical binding is what makes
    rename/drop sound WITHOUT rewriting data files — delta-spark
    enforces the same)."""
    table = Path(path)
    snap = delta_snapshot(spark, table)
    if not snap.physical_names:
        raise NotImplementedError(
            f"{what}: the table is not column-mapped — logical names "
            "ARE the parquet column names, so renaming/dropping "
            "without a rewrite would corrupt reads.  Enable mapping "
            "first: set_delta_properties(path, "
            "{'delta.columnMapping.mode': 'name'})"
        )
    schema = StructType.fromJson(
        json.loads(snap.metadata["schemaString"])
    )
    return snap, schema, table


def _refuse_if_constraint_referenced(snap, column: str, op: str):
    """ALTER-guard (ADVICE r16): a column referenced by a
    ``delta.constraints.*`` CHECK expression cannot be renamed or
    dropped — every later write's constraint gate would fail with an
    unresolved-column error the user can no longer trace.
    delta-spark blocks the same way.  Identifier match is
    token-level and case-insensitive (SQL semantics), backticks
    included."""
    import re

    cfg = snap.metadata.get("configuration") or {}
    pat = re.compile(
        r"(?<![A-Za-z0-9_`])`?"
        + re.escape(column)
        + r"`?(?![A-Za-z0-9_`])",
        re.IGNORECASE,
    )
    for k, expr in cfg.items():
        if k.startswith("delta.constraints.") and pat.search(
            str(expr or "")
        ):
            cname = k[len("delta.constraints."):]
            raise ValueError(
                f"{op}: column {column!r} is referenced by CHECK "
                f"constraint {cname!r} ({expr}) — drop the "
                "constraint first (set_delta_properties with "
                f"{{{k!r}: None}})"
            )


def rename_delta_column(
    spark: SparkSession,
    path: str | os.PathLike,
    old: str,
    new: str,
) -> int:
    """ALTER TABLE RENAME COLUMN — metadata-only on a column-mapped
    table: the logical name changes in the schemaString while the
    ``physicalName`` (what the parquet files actually store) stays,
    so every existing file keeps binding with zero rewrites.  A
    renamed partition column updates ``partitionColumns`` in the
    same commit (partitionValues key PHYSICAL names and are
    untouched).  Returns the committed version."""
    snap, schema, table = _mapped_schema_commit(
        spark, path, "rename_delta_column"
    )
    names = [f.name for f in schema.fields]
    if old not in names:
        raise ValueError(
            f"rename_delta_column: {old!r} not in {names}"
        )
    if new in names:
        raise ValueError(
            f"rename_delta_column: {new!r} already exists in {names}"
        )
    _refuse_if_constraint_referenced(snap, old, "rename_delta_column")
    fields = [
        StructField(new if f.name == old else f.name, f.dataType,
                    f.nullable, metadata=dict(f.metadata or {}))
        for f in schema.fields
    ]
    meta = {
        **snap.metadata,
        "schemaString": StructType(fields).json(),
        "partitionColumns": [
            new if c == old else c for c in snap.partition_columns
        ],
    }
    actions = [
        _commit_info("RENAME COLUMN", {"from": old, "to": new}),
        {"metaData": meta},
    ]
    # metadata-only surgery rebases over concurrent appends/removes
    # (physicalName binding is untouched); a concurrent metadata or
    # protocol change conflicts
    return _commit_with_retry(
        table, snap.version, actions, op="rename_delta_column",
    )


def drop_delta_column(
    spark: SparkSession,
    path: str | os.PathLike,
    name: str,
) -> int:
    """ALTER TABLE DROP COLUMN — metadata-only on a column-mapped
    table: the field leaves the schemaString; the physical column
    stays in the already-written parquet (readers simply stop
    projecting it — the spec's drop-without-rewrite, its
    columnMapping id never reused because ``maxColumnId`` is already
    past it).  Partition columns refuse (their values key the file
    layout).  Returns the committed version."""
    snap, schema, table = _mapped_schema_commit(
        spark, path, "drop_delta_column"
    )
    names = [f.name for f in schema.fields]
    if name not in names:
        raise ValueError(f"drop_delta_column: {name!r} not in {names}")
    if name in snap.partition_columns:
        raise ValueError(
            f"drop_delta_column: {name!r} is a partition column — "
            "partition values key the file layout; repartition via "
            "overwrite instead"
        )
    if len(names) == 1:
        raise ValueError(
            "drop_delta_column: cannot drop the table's only column"
        )
    _refuse_if_constraint_referenced(snap, name, "drop_delta_column")
    fields = [
        StructField(f.name, f.dataType, f.nullable,
                    metadata=dict(f.metadata or {}))
        for f in schema.fields
        if f.name != name
    ]
    meta = {**snap.metadata, "schemaString": StructType(fields).json()}
    actions = [
        _commit_info("DROP COLUMNS", {"columns": [name]}),
        {"metaData": meta},
    ]
    return _commit_with_retry(
        table, snap.version, actions, op="drop_delta_column",
    )


#: legacy protocol versions -> the features they implicitly enable;
#: listed EXPLICITLY when a protocol upgrades to table features
#: (minReader 3 / minWriter 7), the spec's upgrade rule
_LEGACY_READER_FEATURES = {2: {"columnMapping"}}
_LEGACY_WRITER_FEATURES = {
    2: {"appendOnly", "invariants"},
    3: {"checkConstraints"},
    4: {"changeDataFeed", "generatedColumns"},
    5: {"columnMapping"},
    6: {"identityColumns"},
}


def set_delta_properties(
    spark: SparkSession,
    path: str | os.PathLike,
    properties: dict,
) -> int:
    """ALTER TABLE SET/UNSET TBLPROPERTIES as ONE commit: re-publish
    the table's metaData with ``configuration`` merged with
    ``properties`` (a ``None`` value UNSETs its key).  Properties
    that gate protocol features upgrade the protocol IN THE SAME
    commit — delta-spark's upgrade shapes:

    - ``delta.enableChangeDataFeed=true``: minWriterVersion >= 4 (or
      the ``changeDataFeed`` writer feature on a features protocol);
      this engine's row-level writers emit cdc actions from then on.
    - ``delta.columnMapping.mode=name|id`` on an UNMAPPED table:
      minReader 2 / minWriter 5, and every existing column is
      assigned ``physicalName = its CURRENT name`` plus a
      columnMapping id with ``delta.columnMapping.maxColumnId``
      recorded — existing files were written under logical column
      names, so a uuid physicalName would orphan them (delta-spark's
      upgrade rule; only columns added later get uuids).  Changing
      an existing mode refuses loudly (the spec allows only
      none -> name|id).
    - ``delta.checkpointPolicy=v2``: protocol 3/7 with the
      ``v2Checkpoint`` reader+writer feature, so external readers
      are guaranteed to resolve ``write_delta_checkpoint(v2=True)``
      checkpoints.
    - ``delta.enableDeletionVectors=true``: protocol 3/7 with
      ``deletionVectors``.
    - ``delta.constraints.<name>=<sql expr>`` (round 16 — ALTER
      TABLE ADD CONSTRAINT): the EXISTING rows are validated first
      (one aggregate scan; a violation refuses the whole commit) and
      the protocol moves to writer 3+ (``checkConstraints``); from
      then on ``write_delta`` appends, ``update_delta`` rewrites and
      ``merge_delta`` outputs are all gated row-exactly BEFORE
      staging (NULL passes — SQL CHECK semantics).

    An upgrade to the features protocol lists every feature the old
    legacy versions implied (the spec's explicitness rule).  Returns
    the committed version."""
    table = Path(path)
    snap = delta_snapshot(spark, table)
    cfg = dict(snap.metadata.get("configuration") or {})
    schema_string = snap.metadata["schemaString"]

    old_mode = cfg.get("delta.columnMapping.mode", "none") or "none"
    for k, v in properties.items():
        if v is None:
            cfg.pop(str(k), None)
        else:
            cfg[str(k)] = str(v)
    new_mode = cfg.get("delta.columnMapping.mode", "none") or "none"
    if new_mode not in ("none", "name", "id"):
        raise ValueError(
            f"set_delta_properties: delta.columnMapping.mode="
            f"{new_mode!r} ('name' and 'id' are the spec modes)"
        )
    if old_mode != new_mode and old_mode != "none":
        raise NotImplementedError(
            f"set_delta_properties: changing delta.columnMapping.mode "
            f"{old_mode!r} -> {new_mode!r} — the spec only allows "
            "enabling mapping on an unmapped table (none -> name|id)"
        )
    if old_mode == "none" and new_mode == "id" and snap.files:
        # mode=id reads resolve columns by parquet FOOTER field ids
        # (parquet.field.id), but pre-upgrade files were written
        # without ids — every read of them would fail or null-fill.
        # delta-spark restricts upgrades of existing tables to 'name'
        # (physicalName = current name binds old files) for exactly
        # this reason; 'id' is creation-time only.
        raise ValueError(
            "set_delta_properties: delta.columnMapping.mode none -> "
            "'id' on a table with existing data files — those files "
            "carry no parquet field ids, so id-based reads would "
            "fail.  Upgrade to 'name' instead ('id' is only valid "
            "on an empty table)."
        )

    prot = snap.protocol or {}
    mrv = int(prot.get("minReaderVersion", 1) or 1)
    mwv = int(prot.get("minWriterVersion", 2) or 2)
    rfeats = set(prot.get("readerFeatures") or [])
    wfeats = set(prot.get("writerFeatures") or [])
    want_mrv, want_mwv = mrv, mwv
    want_r, want_w = set(rfeats), set(wfeats)

    def _to_features():
        nonlocal want_mrv, want_mwv
        if want_mwv < 7:
            for v, s in _LEGACY_WRITER_FEATURES.items():
                if want_mwv >= v:
                    want_w.update(s)
        if want_mrv < 3:
            for v, s in _LEGACY_READER_FEATURES.items():
                if want_mrv >= v:
                    want_r.update(s)
        want_mrv, want_mwv = 3, 7

    new_constraints = {
        str(k): str(v)
        for k, v in properties.items()
        if str(k).startswith("delta.constraints.") and v is not None
    }
    if new_constraints:
        # ALTER TABLE ADD CONSTRAINT semantics: the EXISTING rows
        # must already satisfy it (one aggregate scan), and writers
        # must understand checkConstraints (legacy writer 3)
        _check_constraints(
            read_delta(spark, table),
            {"configuration": new_constraints},
            "set_delta_properties (existing rows)",
        )
        if want_mwv >= 7:
            want_w.add("checkConstraints")
        else:
            want_mwv = max(want_mwv, 3)
    if cfg.get("delta.enableChangeDataFeed") == "true":
        if want_mwv >= 7:
            want_w.add("changeDataFeed")
        else:
            want_mwv = max(want_mwv, 4)
    if new_mode in ("name", "id"):
        if want_mwv >= 7 or want_mrv >= 3:
            _to_features()
            want_r.add("columnMapping")
            want_w.add("columnMapping")
        else:
            want_mrv = max(want_mrv, 2)
            want_mwv = max(want_mwv, 5)
    if cfg.get("delta.checkpointPolicy") == "v2":
        _to_features()
        want_r.add("v2Checkpoint")
        want_w.add("v2Checkpoint")
    if cfg.get("delta.enableDeletionVectors") == "true":
        _to_features()
        want_r.add("deletionVectors")
        want_w.add("deletionVectors")

    if old_mode == "none" and new_mode in ("name", "id"):
        # assign mapping metadata to every EXISTING column — NESTED
        # fields included (round 16): physical name = current name
        # at every level (binds the already-written files), ids
        # sequential, maxColumnId recorded for future evolution
        from pyspark.sql.types import ArrayType, MapType

        schema = StructType.fromJson(json.loads(schema_string))
        next_id = 0

        def _bind(dt):
            nonlocal next_id
            if isinstance(dt, StructType):
                fs = []
                for f in dt.fields:
                    md = dict(f.metadata or {})
                    if "delta.columnMapping.id" not in md:
                        next_id += 1
                        md["delta.columnMapping.id"] = next_id
                    md.setdefault(
                        "delta.columnMapping.physicalName", f.name
                    )
                    fs.append(
                        StructField(
                            f.name, _bind(f.dataType), f.nullable,
                            metadata=md,
                        )
                    )
                return StructType(fs)
            if isinstance(dt, ArrayType):
                return ArrayType(
                    _bind(dt.elementType), dt.containsNull
                )
            if isinstance(dt, MapType):
                return MapType(
                    _bind(dt.keyType), _bind(dt.valueType),
                    dt.valueContainsNull,
                )
            return dt

        schema_string = _bind(schema).json()
        cfg.setdefault(
            "delta.columnMapping.maxColumnId", str(next_id)
        )

    actions: list[dict] = [
        _commit_info(
            "SET TBLPROPERTIES",
            {"properties": {
                str(k): (None if v is None else str(v))
                for k, v in properties.items()
            }},
        )
    ]
    if (want_mrv, want_mwv, want_r, want_w) != (
        mrv, mwv, rfeats, wfeats,
    ):
        p: dict = {
            "minReaderVersion": want_mrv,
            "minWriterVersion": want_mwv,
        }
        if want_mwv >= 7:
            p["writerFeatures"] = sorted(want_w)
        if want_mrv >= 3:
            p["readerFeatures"] = sorted(want_r)
        actions.append({"protocol": p})
    actions.append(
        {
            "metaData": {
                **snap.metadata,
                "schemaString": schema_string,
                "configuration": cfg,
            }
        }
    )
    # property commits rebase over concurrent appends UNLESS they add
    # constraints (the existing-rows validation would not cover the
    # concurrently appended rows); metadata/protocol changes conflict
    return _commit_with_retry(
        table, snap.version, actions, op="set_delta_properties",
        conflict_on_add=bool(new_constraints),
    )


def write_delta_checkpoint(
    spark: SparkSession, path: str | os.PathLike, v2: bool = False
) -> int:
    """Compact the current table state into a checkpoint parquet at
    the latest version and point ``_last_checkpoint`` at it, so
    readers seed from one parquet scan instead of replaying every
    JSON commit; returns the checkpointed version.

    The checkpoint carries everything a seeded reader needs to be
    equivalent to the JSON replay (round 14): add actions INCLUDING
    their ``deletionVector`` descriptors (a DV-less checkpoint would
    resurrect deleted rows), the protocol's reader/writerFeatures
    lists (not just the version ints), and one ``txn`` row per
    recorded SetTransaction app id — without those, log cleanup past
    the checkpoint would silently drop the exactly-once high-water
    marks and replayed streaming batches would duplicate.

    ``v2=True`` (round 15) writes the V2 CHECKPOINT form instead of
    the classic single-part file: the file actions land in a SIDECAR
    parquet under ``_delta_log/_sidecars/`` and the UUID-named top
    file (``<v>.checkpoint.<uuid>.parquet``) carries only the
    checkpointMetadata / protocol / metaData / txn rows plus one
    ``sidecar`` pointer per sidecar — the layout large tables' log
    compaction wants (file actions can be re-sharded without
    rewriting the handle).  The round-14 reader consumes both forms.
    Publishing the v2 form for EXTERNAL readers expects the table's
    protocol to carry the ``v2Checkpoint`` reader feature — this
    writer does not upgrade the protocol (that is a table property
    change, a separate commit)."""
    table = Path(path)
    snap = delta_snapshot(spark, table)
    log = _log_path(table)
    add_t = (
        "struct<path:string,partitionValues:map<string,string>,"
        "size:bigint,modificationTime:bigint,dataChange:boolean,"
        "stats:string,deletionVector:struct<storageType:string,"
        "pathOrInlineDv:string,offset:int,sizeInBytes:int,"
        "cardinality:bigint>>"
    )
    meta_t = (
        "struct<id:string,format:struct<provider:string>,"
        "schemaString:string,partitionColumns:array<string>,"
        "configuration:map<string,string>>"
    )
    proto_t = (
        "struct<minReaderVersion:int,minWriterVersion:int,"
        "readerFeatures:array<string>,writerFeatures:array<string>>"
    )
    txn_t = "struct<appId:string,version:bigint>"
    meta = snap.metadata
    meta_row = (
        meta.get("id"),
        ((meta.get("format") or {}).get("provider", "parquet"),),
        meta["schemaString"],
        snap.partition_columns,
        meta.get("configuration") or {},
    )
    proto_row = (
        int(snap.protocol.get("minReaderVersion", 1) or 1),
        int(snap.protocol.get("minWriterVersion", 2) or 2),
        snap.protocol.get("readerFeatures"),
        snap.protocol.get("writerFeatures"),
    )
    txn_rows = [
        (app_id, int(txn_v))
        for app_id, txn_v in sorted(snap.txns.items())
    ]
    add_rows: list[tuple] = []
    for rel, pv, sz, st in snap.files:
        stats_json = (
            json.dumps(st, separators=(",", ":")) if st else None
        )
        try:  # protocol-required field; best-effort for gone files
            mtime_ms = int((table / rel).stat().st_mtime * 1000)
        except OSError:
            mtime_ms = 0
        dv = snap.dvs.get(rel)
        dv_row = (
            (
                dv.get("storageType"),
                dv.get("pathOrInlineDv"),
                None if dv.get("offset") is None else int(dv["offset"]),
                int(dv.get("sizeInBytes") or 0),
                int(dv.get("cardinality") or 0),
            )
            if dv
            else None
        )
        add_rows.append(
            (quote(rel, safe="/="), pv, sz, mtime_ms, True,
             stats_json, dv_row)
        )

    def _write_one(df: DataFrame, target: Path) -> None:
        tmp = log / f".cp-{uuid.uuid4().hex}"
        df.coalesce(1).write.mode("errorifexists").parquet(str(tmp))
        part = next(iter(tmp.glob("*.parquet")))
        target.parent.mkdir(parents=True, exist_ok=True)
        os.replace(part, target)
        shutil.rmtree(tmp, ignore_errors=True)

    n_actions = 2 + len(txn_rows) + len(add_rows)
    if v2:
        # V2 form: file actions in a sidecar; the UUID-named top file
        # holds the handle rows + one sidecar pointer
        side_name = f"{uuid.uuid4()}.parquet"
        side_target = log / "_sidecars" / side_name
        _write_one(
            spark.createDataFrame(
                [(a,) for a in add_rows], f"add {add_t}"
            ),
            side_target,
        )
        top_schema = (
            f"checkpointMetadata struct<version:bigint>, "
            f"metaData {meta_t}, protocol {proto_t}, txn {txn_t}, "
            "sidecar struct<path:string,sizeInBytes:bigint>"
        )
        top_rows: list[tuple] = [
            ((int(snap.version),), None, None, None, None),
            (None, meta_row, None, None, None),
            (None, None, proto_row, None, None),
        ]
        for t in txn_rows:
            top_rows.append((None, None, None, t, None))
        top_rows.append(
            (
                None, None, None, None,
                (side_name, int(side_target.stat().st_size)),
            )
        )
        _write_one(
            spark.createDataFrame(top_rows, top_schema),
            log / f"{snap.version:020d}.checkpoint.{uuid.uuid4()}"
                  ".parquet",
        )
    else:
        schema = (
            f"add {add_t}, metaData {meta_t}, protocol {proto_t}, "
            f"txn {txn_t}"
        )
        rows: list[tuple] = [
            (None, meta_row, None, None),
            (None, None, proto_row, None),
        ]
        for t in txn_rows:
            rows.append((None, None, None, t))
        for a in add_rows:
            rows.append((a, None, None, None))
        _write_one(
            spark.createDataFrame(rows, schema),
            log / f"{snap.version:020d}.checkpoint.parquet",
        )
    (log / _LAST_CHECKPOINT).write_text(
        json.dumps({"version": snap.version, "size": n_actions})
    )
    return snap.version


def describe_delta_history(
    spark: SparkSession, path: str | os.PathLike
) -> DataFrame:
    """DESCRIBE HISTORY (round 15) — one row per commit, newest
    first, exactly the inspection surface delta-spark exposes:
    ``version``, ``timestamp`` (the commit's time-travel timestamp —
    inCommitTimestamp when recorded, else file mtime), ``operation``
    (commitInfo's, null for writers that stamp none), and the
    commit's action counts (``num_added_files`` / ``num_removed_files``
    / ``num_cdc_files``) plus ``engine_info``.  Driver cost is
    O(#commits × #actions) log metadata — the same replay
    delta_snapshot already pays; no data file opens."""
    table = Path(path)
    log = _log_path(table)
    versions = _json_versions(log)
    if not versions:
        raise FileNotFoundError(
            f"describe_delta_history: no commit JSONs at {log} (log "
            "cleaned past a checkpoint keeps only seeded state — "
            "history needs the JSONs)"
        )
    rows = []
    for v in sorted(versions, reverse=True):
        p = versions[v]
        op = None
        engine = None
        op_params = None
        n_add = n_remove = n_cdc = 0
        with open(p, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if not line:
                    continue
                action = json.loads(line)
                if "add" in action:
                    n_add += 1
                elif "remove" in action:
                    n_remove += 1
                elif "cdc" in action:
                    n_cdc += 1
                elif "commitInfo" in action:
                    ci = action["commitInfo"]
                    op = ci.get("operation")
                    engine = ci.get("engineInfo")
                    if ci.get("operationParameters"):
                        op_params = json.dumps(
                            ci["operationParameters"], sort_keys=True
                        )
        rows.append(
            (
                int(v),
                int(_commit_ts_ms(p)),
                op,
                op_params,
                n_add,
                n_remove,
                n_cdc,
                engine,
            )
        )
    return spark.createDataFrame(
        rows,
        "version bigint, timestamp_ms bigint, operation string, "
        "operation_parameters string, "
        "num_added_files bigint, num_removed_files bigint, "
        "num_cdc_files bigint, engine_info string",
    )


def clean_delta_log(
    spark: SparkSession,
    path: str | os.PathLike,
    retention_hours: float = 720.0,
    dry_run: bool = False,
) -> list[str]:
    """Log retention (round 15) — delta-spark's
    ``delta.logRetentionDuration`` cleanup: commit JSONs AT OR BELOW
    the newest checkpoint whose time-travel timestamp is older than
    ``retention_hours`` (default 30 days, Delta's own) are deleted;
    readers seed from the checkpoint (which carries adds + DVs +
    protocol + txn marks) so the CURRENT state is never affected —
    only time travel / CDF / history INTO the cleaned range fails
    loudly afterwards (their documented trade).  Without a
    checkpoint nothing is ever cleaned.  Returns the deleted file
    names; ``dry_run=True`` lists only."""
    if retention_hours < 0:
        raise ValueError(
            f"clean_delta_log: retention_hours must be >= 0, got "
            f"{retention_hours}"
        )
    table = Path(path)
    log = _log_path(table)
    cp = _latest_checkpoint_version(log, 1 << 62)
    if cp is None:
        return []  # no checkpoint: every commit is load-bearing
    cutoff_ms = (time.time() - retention_hours * 3600.0) * 1000.0
    out: list[str] = []
    for v, p in sorted(_json_versions(log).items()):
        if v > cp:
            break  # commits past the checkpoint always replay
        if _commit_ts_ms(p) >= cutoff_ms:
            continue
        out.append(p.name)
    if not dry_run:
        for name in out:
            (log / name).unlink(missing_ok=True)
    return out


def vacuum_delta(
    spark: SparkSession,
    path: str | os.PathLike,
    dry_run: bool = False,
    retention_hours: float = 168.0,
) -> list[str]:
    """Physically delete data files no longer referenced by the
    CURRENT version — the storage-reclaim half of ``write_delta``'s
    tombstone-only overwrite.  Returns the deleted relative paths.

    Contract (the same trade Delta's own VACUUM makes): after a
    vacuum, time travel to versions whose files were reclaimed FAILS
    (here: loudly, at scan time — the log still replays, the parquet
    is gone).  A checkpoint at the current version is written first
    so readers seed from surviving state even if older JSON commits
    are later cleaned.  ``dry_run=True`` lists without deleting.
    Only files under the table root that look like data files are
    candidates — the log directory is never touched.

    ``retention_hours`` (default 168 = 7 days, Delta's own default)
    guards the write race: ``write_delta`` moves staged parquet under
    the table root BEFORE publishing the commit JSON, so a file can
    be unreferenced-but-about-to-be-committed.  Files whose mtime is
    newer than ``now - retention_hours`` are never touched — with
    the minimum ``retention_hours=0`` the cutoff is vacuum start, so
    even then in-flight stages survive.  As with Delta's VACUUM,
    shortening retention below any writer's stage→publish window
    (or below the time-travel horizon you still need) is the
    caller's risk; don't run vacuum concurrently with writers at
    retention 0."""
    if retention_hours < 0:
        raise ValueError(
            f"vacuum_delta: retention_hours must be >= 0, got "
            f"{retention_hours}"
        )
    table = Path(path)
    snap = delta_snapshot(spark, table)
    live = {rel for rel, _pv, _sz, _st in snap.files}
    # DV sidecars referenced by the CURRENT version stay; replaced /
    # dropped ones reclaim like data files (round 14 — the
    # delete_from_delta writer creates a fresh sidecar per delete)
    from snapflow_spark.sources.deletion_vectors import (
        _absolute_dv_path,
        _dv_sidecar_path,
    )

    for desc in snap.dvs.values():
        st_ = desc.get("storageType")
        try:
            if st_ == "u":
                p = _dv_sidecar_path(table, desc["pathOrInlineDv"])
            elif st_ == "p":
                p = _absolute_dv_path(desc["pathOrInlineDv"])
            else:
                continue  # inline: no file
        except (ValueError, NotImplementedError):
            continue
        try:
            live.add(p.resolve().relative_to(table.resolve()).as_posix())
        except ValueError:
            pass  # absolute DV outside the table root: not ours
    cutoff = time.time() - retention_hours * 3600.0
    candidates: list[str] = []
    for pattern in ("*.parquet", "deletion_vector_*.bin"):
        for p in table.rglob(pattern):
            rel = p.relative_to(table).as_posix()
            if rel.startswith(f"{_LOG_DIR}/") or rel.startswith("."):
                continue
            if rel not in live:
                try:
                    if p.stat().st_mtime >= cutoff:
                        continue  # inside the retention window: keep
                except FileNotFoundError:
                    continue
                candidates.append(rel)
    if dry_run or not candidates:
        return sorted(candidates)
    write_delta_checkpoint(spark, table)
    for rel in candidates:
        (table / rel).unlink(missing_ok=True)
    # prune now-empty hive partition dirs (cosmetic, never the root)
    for p in sorted(
        {(table / rel).parent for rel in candidates}, reverse=True
    ):
        if p != table and p.is_dir() and not any(p.iterdir()):
            p.rmdir()
    return sorted(candidates)


def snapshot_store_to_delta(
    store,
    spark: SparkSession,
    path: str | os.PathLike,
    mode: str = "overwrite",
    latest_only: bool = False,
) -> int | None:
    """Export a SnapshotStore's state as a Delta commit — the bridge
    from the engine's internal snapshot layer to the open format
    downstream consumers speak.  Default exports the ACCUMULATED
    state (union of all snapshots — the `accumulator` view);
    ``latest_only=True`` exports just the newest snapshot (the
    `latest` stream-op view).  Returns the committed version, or None
    when the store is empty."""
    df = store.read_latest(spark) if latest_only else store.read(spark)
    if df is None:
        return None
    return write_delta(df, path, mode=mode)


def delta_stream_sink(
    path: str | os.PathLike,
    app_id: str,
    partition_by: list[str] | None = None,
    keys: list[str] | None = None,
):
    """EXACTLY-ONCE streaming writes INTO a Delta table: a
    ``foreachBatch`` body keyed on the protocol's SetTransaction
    action.  Every micro-batch commits ``{"txn": {appId, version:
    batch_id}}`` alongside its adds; on restart, Spark replays the
    last unacknowledged batch and the replay is SKIPPED because the
    table already records that (appId, batch_id) — the same recipe
    delta-spark's own streaming sink uses, with the table itself as
    the idempotence ledger (no side state).

    ``keys`` (round 15) switches the sink to UPSERT mode — the other
    half of CDC: each micro-batch after the first applies through
    ``merge_delta`` (replace-by-key, DV delete + insert in one
    commit, the same SetTransaction idempotence), so a keyed
    changelog stream lands exactly-once upserts.  The first batch
    creates the table as a plain append.  The changelog must carry
    one row per key per batch (``dedupe_keep_latest`` upstream).

    Usage::

        q = (curated.writeStream
             .foreachBatch(delta_stream_sink(table, "my-pipeline"))
             .option("checkpointLocation", ckpt).start())
    """
    target = str(path)
    keys = list(keys) if keys is not None else None

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        if keys is not None and (
            Path(target) / _LOG_DIR
        ).is_dir():
            merge_delta(
                batch_df.sparkSession,
                target,
                batch_df,
                on=keys,
                txn=(app_id, int(batch_id)),
            )
            return
        write_delta(
            batch_df,
            target,
            mode="append",
            partition_by=partition_by,
            txn=(app_id, int(batch_id)),
        )

    return write_batch


# ----------------------------------------------------- streaming source
def _log_metadata_nospark(table: Path) -> dict:
    """Last metaData action, pure-python (no SparkSession — the
    DataSource.schema() hook runs before one is reachable): newest
    JSON commit carrying metaData wins; a checkpoint-only log falls
    back to the checkpoint parquet via pyarrow."""
    log = _log_path(table)
    for v in sorted(_json_versions(log), reverse=True):
        with open(_json_versions(log)[v], encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if line and '"metaData"' in line:
                    action = json.loads(line)
                    if "metaData" in action:
                        return action["metaData"]
    cp = _latest_checkpoint_version(log, 1 << 62)
    if cp is not None:
        import pyarrow.parquet as pq

        for part in _checkpoint_parts(log, cp):
            t = pq.read_table(part)
            if "metaData" in t.column_names:
                for row in t.column("metaData").to_pylist():
                    if row and row.get("schemaString"):
                        return row
    raise FileNotFoundError(
        f"delta stream: no metaData action found under {log}"
    )


def _pv_converter(dt) -> "callable":
    """Partition-value string → python object of the column's Spark
    type (the subset Delta serializes as partition strings)."""
    import datetime

    from pyspark.sql import types as T

    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return int
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return float
    if isinstance(dt, T.BooleanType):
        return lambda v: v == "true"
    if isinstance(dt, T.StringType):
        return lambda v: v
    if isinstance(dt, T.DateType):
        return datetime.date.fromisoformat
    raise NotImplementedError(
        f"delta stream: partition column type {dt} not supported"
    )


def _arrow_type(dt):
    """Spark DataType → the pyarrow type Spark expects at its Arrow
    boundary (delegates to pyspark's own mapping so RecordBatch yields
    from the stream reader match what the JVM side validates)."""
    from pyspark.sql.pandas.types import to_arrow_type

    return to_arrow_type(dt)


class DeltaStreamDataSource(DataSource):
    """``spark.readStream.format("delta_log").option("path", table)``
    after ``spark.dataSource.register(DeltaStreamDataSource)`` — a
    STREAMING source over a Delta table's commit log, from scratch
    (no delta-spark).  The offset is the log VERSION; each micro-batch
    covers versions ``(start, end]`` and plans one InputPartition per
    ADDED file, decoded executor-side with pyarrow — the
    change-data-feed-less append-stream semantics delta-spark's own
    source has:

    - append-only tables stream exactly-once (Spark's offset log is
      the only state; commits are immutable);
    - a version carrying ``remove`` actions with dataChange raises
      loudly unless ``ignore_deletes=true`` (then adds still stream —
      delta-spark's ignoreDeletes), because a row-level delete cannot
      be expressed on an append stream;
    - an add carrying a DELETION VECTOR (the DELETE/UPDATE re-add
      shape) streams only its LIVE rows, the DV decoded
      executor-side (round 15) — already-streamed live rows may
      repeat, exactly delta-spark's documented ignoreChanges caveat,
      but DV-dead rows never enter the feed;
    - ``starting_version`` skips history (``"latest"`` = only commits
      after stream start; an int = that version onward).  Replaying
      from 0 requires the JSON commits to still exist — a log cleaned
      past a checkpoint raises with the version named.
    """

    @classmethod
    def name(cls) -> str:
        return "delta_log"

    def schema(self) -> StructType:
        table = Path(self.options["path"])
        meta = _log_metadata_nospark(table)
        return StructType.fromJson(json.loads(meta["schemaString"]))

    def streamReader(self, schema: StructType) -> "DeltaStreamReader":
        return DeltaStreamReader(schema, dict(self.options))


class _DeltaAddPartition(InputPartition):
    def __init__(
        self,
        path: str,
        pv: dict,
        dv: dict | None = None,
        table_root: str | None = None,
    ):
        self.path = path
        self.pv = pv
        #: add.deletionVector descriptor — only the file's LIVE rows
        #: stream (decoded executor-side; needs table_root)
        self.dv = dv
        self.table_root = table_root


class DeltaStreamReader(DataSourceStreamReader):
    def __init__(self, schema: StructType, options: dict):
        self.schema_ = schema
        self.options = options
        self.table = Path(options["path"])
        self.ignore_deletes = (
            str(options.get("ignore_deletes", "false")).lower() == "true"
        )
        # Rows per yielded RecordBatch — the per-task memory bound on
        # large add files (iter_batches never holds more than this
        # many rows, coalescing small row groups / splitting big ones).
        self.batch_size = int(options.get("arrow_batch_size", 65536))
        meta = _log_metadata_nospark(self.table)
        self.part_cols = list(meta.get("partitionColumns") or [])
        # columnMapping mode=name: parquet columns + partitionValues
        # key by the physicalName uuids; logical names come back out
        self.phys = _physical_names(self.schema_, meta, "delta stream")

    def _latest_version(self) -> int:
        versions = _json_versions(_log_path(self.table))
        cp = _latest_checkpoint_version(_log_path(self.table), 1 << 62)
        return max(
            max(versions) if versions else -1,
            cp if cp is not None else -1,
        )

    def initialOffset(self) -> dict:
        sv = self.options.get("starting_version")
        if sv is None:
            return {"version": -1}
        if str(sv) == "latest":
            return {"version": self._latest_version()}
        return {"version": int(sv) - 1}

    def latestOffset(self) -> dict:
        return {"version": self._latest_version()}

    def partitions(self, start: dict, end: dict):
        lo, hi = int(start["version"]), int(end["version"])
        versions = _json_versions(_log_path(self.table))
        out = []
        for v in range(lo + 1, hi + 1):
            p = versions.get(v)
            if p is None:
                raise FileNotFoundError(
                    f"delta stream: commit {v} missing from the log — "
                    "cleaned past a checkpoint? start the stream with "
                    "starting_version instead of replaying history"
                )
            with open(p, encoding="utf-8") as fh:
                for line in fh:
                    line = line.strip()
                    if not line:
                        continue
                    action = json.loads(line)
                    if "remove" in action and action["remove"].get(
                        "dataChange", True
                    ):
                        if not self.ignore_deletes:
                            raise ValueError(
                                f"delta stream: commit {v} removes data "
                                "(overwrite/delete); an append stream "
                                "cannot express it — pass "
                                "ignore_deletes=true to stream the adds "
                                "anyway"
                            )
                    elif "add" in action:
                        a = action["add"]
                        if not a.get("dataChange", True):
                            # compaction bookkeeping (OPTIMIZE):
                            # rearranged rows are NOT new data —
                            # streaming them would duplicate every
                            # compacted row
                            continue
                        out.append(
                            _DeltaAddPartition(
                                str(self.table / unquote(a["path"])),
                                a.get("partitionValues") or {},
                                dv=a.get("deletionVector"),
                                table_root=str(self.table),
                            )
                        )
        return out

    def read(self, partition: _DeltaAddPartition):
        # Arrow-batched read path: rows cross the python<->JVM boundary
        # as RecordBatch objects (the Python DataSource API accepts
        # RecordBatch iterators), one row group at a time — bounded
        # memory on large add files, no python-object inflation.
        # Partition values are attached as constant Arrow columns.
        import pyarrow as pa
        import pyarrow.parquet as pq

        fields = {f.name: f for f in self.schema_.fields}
        phys = self.phys

        def P(c: str) -> str:
            return phys.get(c, c) if phys else c

        pv = {
            c: (
                None
                if partition.pv.get(P(c)) is None
                else _pv_converter(fields[c].dataType)(
                    partition.pv[P(c)]
                )
            )
            for c in self.part_cols
        }
        names = [f.name for f in self.schema_.fields]
        arrow_schema = pa.schema(
            [
                pa.field(n, _arrow_type(fields[n].dataType))
                for n in names
            ]
        )
        dv_idx = None
        if partition.dv is not None:
            # a DV-carrying add (DELETE/UPDATE re-add shape): only
            # the file's LIVE rows stream — decoded executor-side,
            # O(deleted rows) metadata per task
            import numpy as np

            from snapflow_spark.sources.deletion_vectors import (
                deleted_row_indexes,
            )

            dv_idx = np.asarray(
                deleted_row_indexes(
                    partition.table_root, partition.dv
                ),
                dtype="int64",
            )
        offset = 0
        pf = pq.ParquetFile(partition.path)
        file_cols = [P(n) for n in names if n not in pv]
        for batch in pf.iter_batches(
            batch_size=self.batch_size, columns=file_cols
        ):
            if dv_idx is not None:
                import numpy as np

                pos = np.arange(
                    offset, offset + batch.num_rows, dtype="int64"
                )
                offset += batch.num_rows
                keep = ~np.isin(pos, dv_idx, assume_unique=True)
                if not keep.all():
                    batch = batch.filter(pa.array(keep))
                    if batch.num_rows == 0:
                        continue
            arrays = []
            for n in names:
                typ = arrow_schema.field(n).type
                if n in pv:
                    arrays.append(
                        pa.nulls(batch.num_rows, type=typ)
                        if pv[n] is None
                        else pa.array(
                            [pv[n]] * batch.num_rows, type=typ
                        )
                    )
                else:
                    arrays.append(
                        batch.column(P(n)).cast(typ, safe=False)
                    )
            yield pa.RecordBatch.from_arrays(
                arrays, schema=arrow_schema
            )

    def commit(self, end: dict) -> None:
        pass  # Spark's offset log is the only state


def read_delta_cdf(
    spark: SparkSession,
    path: str | os.PathLike,
    starting_version: int = 0,
    ending_version: int | None = None,
) -> DataFrame:
    """Change Data Feed: the row-level CHANGES committed in versions
    ``[starting_version, ending_version]`` (inclusive; default end =
    latest), as delta-spark's ``table_changes`` exposes them — table
    columns plus ``_change_type`` (insert / delete /
    update_preimage / update_postimage) and ``_commit_version``.

    Per commit, the protocol's rule: when the commit carries ``cdc``
    actions (writers with ``delta.enableChangeDataFeed`` emit them
    under ``_change_data/`` for updates/merges), those files are the
    AUTHORITATIVE change rows — their parquet already contains
    ``_change_type`` — and the commit's add/remove actions are file
    bookkeeping only.  Otherwise changes synthesize from the log:
    ``add`` files with dataChange are inserts, ``remove``d files are
    deletes read back from the still-on-disk parquet (time travel
    keeps them until vacuum; a reclaimed file fails loudly at scan).

    Deletion-vector commits synthesize ROW-LEVEL changes: an add that
    replaces a live file's DV emits 'delete' rows for the NEWLY
    deleted indexes (new DV minus old DV) and 'insert' rows for any
    resurrected ones; a fresh add carrying a DV inserts only its live
    rows; a remove of a DV'd file emits deletes for its live rows
    ONLY (the already-DV-deleted rows never resurface in the feed —
    per-file DV state is tracked from version 0, including through
    the pre-range replay).

    Column-mapped tables (round 15): mode=name reads the physical
    parquet columns and returns LOGICAL names (the _scan_live rename
    discipline); mode=id binds by ``parquet.field.id`` metadata;
    partitionValues and ``_change_data`` files key physical names
    (``_change_type`` is a bare metadata column — never mapped).

    Loud scope: a schemaString change inside the range raises (one
    output schema per call — split the range at the evolution)."""
    table = Path(path)
    log = _log_path(table)
    versions = _json_versions(log)
    if not versions:
        raise FileNotFoundError(f"read_delta_cdf: no commit JSONs at {log}")
    latest = max(versions)
    start = int(starting_version)
    end = latest if ending_version is None else int(ending_version)
    if start < 0 or end > latest or start > end:
        raise ValueError(
            f"read_delta_cdf: bad range [{start}, {end}] "
            f"(log has 0..{latest})"
        )
    snap = delta_snapshot(spark, table, version=end)
    fields = {f.name: f for f in snap.schema.fields}
    part_cols = snap.partition_columns
    data_fields = [f for f in snap.schema.fields if f.name not in part_cols]
    phys = snap.physical_names

    def P(c: str) -> str:
        return phys.get(c, c) if phys else c

    if snap.field_ids:
        # mode=id: request logical names carrying parquet.field.id —
        # Spark binds by footer id; _change_type (no id) binds by name
        spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
        base_fields = [
            StructField(
                f.name, f.dataType, True,
                {"parquet.field.id": snap.field_ids[f.name]},
            )
            for f in data_fields
        ]
        rename = False
    elif phys:
        # mode=name: the parquet columns carry physicalName uuids
        base_fields = [
            StructField(P(f.name), f.dataType, True) for f in data_fields
        ]
        rename = True
    else:
        base_fields = list(data_fields)
        rename = False
    data_schema = StructType(base_fields)
    cdc_schema = StructType(
        list(base_fields)
        + [StructField("_change_type", StringType(), True)]
    )
    out_cols = [f.name for f in snap.schema.fields] + [
        "_change_type",
        "_commit_version",
    ]

    # replay from 0 so a remove can recover its file's partitionValues
    # even when the remove action omits them (they're optional there)
    # — and its deletion-vector state, so a removed DV'd file's
    # already-deleted rows never reappear as delete change rows
    pv_of: dict[str, dict] = {}
    dv_of: dict[str, dict] = {}
    schema_str = None
    pieces: list[DataFrame] = []

    def _idx(desc: dict | None) -> set:
        from snapflow_spark.sources.deletion_vectors import (
            deleted_row_indexes,
        )

        return (
            set(deleted_row_indexes(table, desc)) if desc else set()
        )

    def emit(
        rel: str,
        pv: dict,
        change_type,
        v: int,
        with_type_col: bool,
        include_idx: set | None = None,
        exclude_idx: set | None = None,
    ):
        p = str(table / rel)
        df = spark.read.schema(
            cdc_schema if with_type_col else data_schema
        ).parquet(p)
        if include_idx is not None or exclude_idx:
            idx = include_idx if include_idx is not None else exclude_idx
            how = "semi" if include_idx is not None else "left_anti"
            sel = spark.createDataFrame(
                pd.DataFrame(
                    {"__ri": pd.array(sorted(idx), dtype="int64")}
                )
            )
            df = (
                df.withColumn("__ri", F.col("_metadata.row_index"))
                .join(F.broadcast(sel), "__ri", how)
                .drop("__ri")
            )
        if rename:  # mode=name: physical columns come back logical
            cols = [
                F.col(P(f.name)).alias(f.name) for f in data_fields
            ]
            if with_type_col:
                cols.append(F.col("_change_type"))
            df = df.select(*cols)
        if not with_type_col:
            df = df.withColumn("_change_type", F.lit(change_type))
        df = df.withColumn("_commit_version", F.lit(int(v)).cast("bigint"))
        for c in part_cols:
            raw = pv.get(P(c))
            df = df.withColumn(c, F.lit(raw).cast(fields[c].dataType))
        pieces.append(df.select(*out_cols))

    for v in range(0, end + 1):
        p = versions.get(v)
        if p is None:
            raise FileNotFoundError(
                f"read_delta_cdf: commit {v} missing from {log} (log "
                "cleaned? CDF needs the JSON commits in range)"
            )
        adds: list[dict] = []
        removes: list[dict] = []
        cdcs: list[dict] = []
        added_rels: set[str] = set()  # re-adds beat same-commit removes
        # state BEFORE this commit, for the DV pre/post image diff
        prev_live = set(pv_of)
        prev_dv = dict(dv_of)
        with open(p, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if not line:
                    continue
                action = json.loads(line)
                if "add" in action:
                    a = action["add"]
                    rel = unquote(a["path"])
                    added_rels.add(rel)
                    pv_of[rel] = a.get("partitionValues") or {}
                    desc = a.get("deletionVector")
                    if desc:
                        dv_of[rel] = desc
                    else:
                        dv_of.pop(rel, None)
                    if a.get("dataChange", True):
                        adds.append(a)
                elif "remove" in action:
                    removes.append(action["remove"])
                elif "cdc" in action:
                    cdcs.append(action["cdc"])
                elif "metaData" in action:
                    s = action["metaData"].get("schemaString")
                    if v > start and schema_str is not None and s != schema_str:
                        raise NotImplementedError(
                            f"read_delta_cdf: schema changed at commit "
                            f"{v} inside the range — split the range "
                            "at the evolution"
                        )
                    schema_str = s
        if v < start:
            for r in removes:
                rel = unquote(r["path"])
                if rel in added_rels:
                    continue  # same-commit re-add (DV update shape)
                pv_of.pop(rel, None)
                dv_of.pop(rel, None)
            continue
        if cdcs:  # authoritative: adds/removes are bookkeeping only
            for c in cdcs:
                emit(
                    unquote(c["path"]),
                    c.get("partitionValues") or {},
                    None,
                    v,
                    with_type_col=True,
                )
            for r in removes:
                rel = unquote(r["path"])
                if rel in added_rels:
                    continue
                pv_of.pop(rel, None)
                dv_of.pop(rel, None)
            continue
        dv_handled: set[str] = set()
        for a in adds:
            rel = unquote(a["path"])
            pv = a.get("partitionValues") or {}
            desc = a.get("deletionVector")
            was_live = rel in prev_live
            old_desc = prev_dv.get(rel) if was_live else None
            if desc is None and old_desc is None:
                # the plain shape: a new data file's rows are inserts
                emit(rel, pv, "insert", v, with_type_col=False)
                continue
            new_idx, old_idx = _idx(desc), _idx(old_desc)
            if not was_live:
                # fresh file carrying a DV: only its live rows insert
                emit(
                    rel, pv, "insert", v, with_type_col=False,
                    exclude_idx=new_idx,
                )
                continue
            # in-place DV replacement (delta's DELETE/UPDATE shape:
            # remove(old DV state) + add(new DV) of the SAME path):
            # the change rows are the DV delta, and the paired remove
            # is bookkeeping this diff already covers
            dv_handled.add(rel)
            newly_deleted = new_idx - old_idx
            if newly_deleted:
                emit(
                    rel, pv, "delete", v, with_type_col=False,
                    include_idx=newly_deleted,
                )
            resurrected = old_idx - new_idx
            if resurrected:
                emit(
                    rel, pv, "insert", v, with_type_col=False,
                    include_idx=resurrected,
                )
        for r in removes:
            if not r.get("dataChange", True):
                continue
            rel = unquote(r["path"])
            if rel in dv_handled:
                continue  # same-commit DV re-add emitted the diff
            pv = r.get("partitionValues") or pv_of.get(rel) or {}
            # a removed DV'd file deletes only its LIVE rows — the
            # DV-deleted ones left the table in earlier commits
            old = prev_dv.get(rel)
            emit(
                rel, pv, "delete", v, with_type_col=False,
                exclude_idx=_idx(old) or None,
            )
            if rel not in added_rels:
                pv_of.pop(rel, None)
                dv_of.pop(rel, None)
    if not pieces:
        empty_schema = StructType(
            list(snap.schema.fields)
            + [
                StructField("_change_type", StringType(), True),
                StructField("_commit_version", LongType(), True),
            ]
        )
        return spark.createDataFrame([], empty_schema)
    result = pieces[0]
    for df in pieces[1:]:
        result = result.unionByName(df)
    return result
