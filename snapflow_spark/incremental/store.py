"""SnapshotStore — an ordered sequence of immutable parquet snapshots.

The Spark re-expression of snapflow's DataBlock stream (SURVEY §1.1):
each ``append`` writes one immutable snapshot dir; readers union any
subset. Parquet dirs written by executors scale to any size — the
store itself is only naming + listing, so the metadata cost is O(#
snapshots), never O(rows).

Every snapshot is committed by one step, ``publish``: stage a temp
dir, then one rename gives it the next free id. A snapshot is never
modified or replaced after that; a commit may only retire older ids,
through the ``_RETIRES`` manifest it carries. Batches land through
``append``; streams land through ``streaming.stream_to_snapshots``,
whose epochs take ordinary ids and record ``{query id: batch id}`` in a
``_STREAM`` file so a replayed batch is skipped, not rewritten. A
``_LEDGER`` record carries what a pipeline's run ledger notes about the
commit (a node run's consumed ids, a compaction's merged ids), for the
ledger to roll forward when the process dies before its own commit.

Each snapshot dir written by the store carries a ``_SCHEMA`` record
(the Spark schema JSON, written into the temp dir before the commit
rename), so ``read`` hands Spark the schema instead of paying a
footer-inference job per read. Dirs without the record (written by
other producers, or before the record existed) are inferred as
before.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from collections.abc import Callable, Iterable, Iterator, Sequence
from pathlib import Path

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

_SCHEMA = "_SCHEMA"
_RETIRES = "_RETIRES"
_STREAM = "_STREAM"
_LEDGER = "_LEDGER"


def _writer_alive(tmp_name: str) -> bool:
    """Whether the process that named temp dir ``.<id>.<pid>-<tag>.tmp``
    still runs on this host (a dir without a pid never does)."""
    pid = tmp_name.split(".")[2].split("-")[0]
    if not pid.isdigit():
        return False
    try:
        os.kill(int(pid), 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


class SnapshotStore:
    def __init__(self, path: str | os.PathLike):
        self.path = Path(path)
        self.path.mkdir(parents=True, exist_ok=True)

    def _listed(self) -> list[str]:
        """All COMMITTED snapshot dirs: Spark's parquet committer drops
        a _SUCCESS marker at job commit, so a dir Spark is still
        writing (e.g. a live stream epoch) is invisible to readers —
        without this, a concurrent batch tick could consume a partial
        snapshot and mark it done, silently losing the rest of its
        rows. Includes retired-but-not-yet-deleted dirs (see
        ``publish``); use ``snapshot_ids`` for the reader view."""
        return sorted(
            p.name for p in self.path.iterdir()
            if p.is_dir()
            and p.name.startswith("snapshot-")
            and (p / "_SUCCESS").exists()
        )

    def _records(self, name: str, ids: Iterable[str]) -> Iterator:
        """The JSON record ``name`` of each dir in ``ids`` that has one
        (a dir deleted by a concurrent cleanup is skipped)."""
        for sid in ids:
            try:
                yield json.loads((self.path / sid / name).read_text())
            except FileNotFoundError:
                continue

    def _retired(self, listed: list[str]) -> set[str]:
        """Ids masked by a committed snapshot's _RETIRES manifest."""
        return {sid for rec in self._records(_RETIRES, listed) for sid in rec}

    def snapshot_ids(self) -> list[str]:
        """Reader view: committed snapshots minus retired ones."""
        listed = self._listed()
        retired = self._retired(listed)
        return [sid for sid in listed if sid not in retired]

    def stream_marks(self) -> dict[str, int]:
        """Highest micro-batch id landed per streaming query id, over
        every committed dir (retired leftovers included; ``compact``
        carries the marks of what it retires forward)."""
        marks: dict[str, int] = {}
        for rec in self._records(_STREAM, self._listed()):
            for query_id, batch_id in rec.items():
                marks[query_id] = max(batch_id, marks.get(query_id, -1))
        return marks

    def _next_id(self, floor: int = 0) -> str:
        # max over ALL committed dirs (retired leftovers included) so a
        # crashed cleanup's undeleted originals can never cause an id
        # collision with the next append; ``floor`` skips ids a caller
        # already lost to another writer
        n = max([floor, *(int(s.split("-")[1]) + 1 for s in self._listed())])
        return f"snapshot-{n:06d}"

    def publish(
        self,
        sid: str,
        stage: Callable[[Path], None],
        schema: StructType | None = None,
        retires: Sequence[str] = (),
        record: dict | None = None,
    ) -> str:
        """The one commit step: the only code that turns a staged dir
        into snapshot ``sid``. ``stage(tmp)`` fills a dot-prefixed temp
        dir of this writer's own (never listed, never claims an id, and
        named by writer, so two writers that picked the same id never
        stage into one dir). The ``_SCHEMA`` record (when the writer
        knows the schema), the ``_RETIRES`` manifest, the ``_LEDGER``
        ``record`` and the ``_SUCCESS`` marker go in, then one rename
        publishes. A failed
        write removes its temp dir; one left by a process that died
        mid-write is reclaimed by the next write of the same id.

        ``retires`` names the committed ids the new snapshot replaces
        (``compact``, an overwrite node). The manifest rides in the
        same rename, so the new rows appear and the old ids disappear
        from ``snapshot_ids`` at once — no crash window in which both
        are visible (double-count) or neither is (data loss). The
        rmtree of the retired dirs after the rename is cleanup only;
        a crash in it leaves masked dirs the next retiring commit
        reclaims.

        The rename never replaces a committed dir: when ``sid`` exists
        (a concurrent writer committed it), FileExistsError is
        raised."""
        for old in self.path.glob(f".{sid}.*tmp"):
            if not _writer_alive(old.name):
                shutil.rmtree(old, ignore_errors=True)
        target = self.path / sid
        tmp = self.path / f".{sid}.{os.getpid()}-{uuid.uuid4().hex[:8]}.tmp"
        try:
            stage(tmp)
            if schema is not None:
                (tmp / _SCHEMA).write_text(schema.json())
            if retires:
                (tmp / _RETIRES).write_text(json.dumps(list(retires)))
            if record is not None:
                (tmp / _LEDGER).write_text(json.dumps(record))
            (tmp / "_SUCCESS").touch()
            if not target.exists():
                try:
                    os.rename(tmp, target)
                except OSError:
                    if not target.exists():
                        raise
                else:
                    for old in retires:
                        shutil.rmtree(self.path / old, ignore_errors=True)
                    return sid
            raise FileExistsError(
                f"snapshot {target} already exists: a concurrent writer "
                "committed this id"
            )
        finally:
            shutil.rmtree(tmp, ignore_errors=True)  # gone once renamed

    def _recorded_schema(self, ids: list[str]) -> StructType | None:
        """The schema every snapshot in ``ids`` recorded at commit, or
        None (infer) when any dir lacks the record or two records
        differ — a mixed set keeps Spark's own first-footer choice."""
        try:
            recs = {(self.path / sid / _SCHEMA).read_text() for sid in ids}
        except OSError:
            return None
        if len(recs) != 1:
            return None
        return StructType.fromJson(json.loads(recs.pop()))

    def append(
        self,
        df: DataFrame,
        retires: Sequence[str] = (),
        record: dict | None = None,
    ) -> str:
        """Write one immutable snapshot; returns its id. ``retires``:
        ids the snapshot replaces in the same commit; ``record``: its
        ``_LEDGER`` record (``publish``).

        Identity fast path (round 17): a DataFrame carrying the
        ``_identity_src_dir`` marker (set by ``read`` on a single-dir
        read and destroyed by any transformation — DataFrame methods
        return NEW objects) is exactly the rows of that snapshot dir,
        so the append hard-links its parquet files into the new
        snapshot instead of running a Spark write job — the file-level
        copy snapflow's dcp copy graph (SURVEY §2.A A10) performs when
        source and target formats already match. An accumulate node
        whose fn is the identity (``lambda spark, delta: delta``) pays
        O(#files) driver-side links per tick instead of a cluster
        round trip; every byte still originates from the source
        snapshot this run wrote. Falls back to the Spark write if the
        source dir vanished (compacted under us) or linking fails."""
        src = getattr(df, "_identity_src_dir", None)
        if src is not None:
            sid = self._copy_snapshot(Path(src), retires, record)
            if sid is not None:
                return sid
        return self.publish(
            self._next_id(),
            lambda tmp: df.write.mode("errorifexists").parquet(str(tmp)),
            schema=df.schema,
            retires=retires,
            record=record,
        )

    def _copy_snapshot(
        self, src: Path, retires: Sequence[str], record: dict | None
    ) -> str | None:
        """Hard-link (copy on link failure) a committed snapshot dir's
        data files into the next snapshot id — same tmp-dir + rename
        commit step as a Spark write (``publish``). Returns None (caller
        falls back to the Spark write) when the source is gone or not
        a committed snapshot. ``_RETIRES``, ``_STREAM`` and ``_LEDGER``
        are deliberately NOT copied: they describe the SOURCE store,
        meaningless here; the ``_SCHEMA`` record is (the rows are the
        same)."""
        if not (src / "_SUCCESS").exists():
            return None
        files = [
            p
            for p in src.iterdir()
            if p.is_file() and not p.name.startswith((".", "_"))
        ]

        def link(tmp: Path) -> None:
            tmp.mkdir()
            for p in files:
                try:
                    os.link(p, tmp / p.name)
                except OSError:
                    shutil.copy2(p, tmp / p.name)
            if (src / _SCHEMA).exists():
                shutil.copy2(src / _SCHEMA, tmp / _SCHEMA)

        try:
            return self.publish(
                self._next_id(), link, retires=retires, record=record
            )
        except OSError:  # the fallback write publishes the same id
            return None

    def read(
        self,
        spark: SparkSession,
        ids: list[str] | None = None,
        merge_schema: bool = False,
    ) -> DataFrame | None:
        """Union of the given snapshots (default: all). None if empty —
        a node with no unconsumed input simply does not run, mirroring
        snapflow's reactive fixed point.

        ``merge_schema=True`` unions the snapshots' parquet schemas
        (new columns arriving mid-history read as NULL for older
        snapshots) — the schema-EVOLUTION read for sources that grow
        fields over time, mapping snapflow's Schema `implementations`
        drift onto Spark's mergeSchema. Default off: it costs a
        footer read per file, and WITHOUT it Spark silently serves
        the first-listed footer's schema — so a store whose producer
        may evolve should either always pass merge_schema or conform
        blocks through schema.SchemaSpec first (the explicit path).

        Retries when a listed dir has vanished under us: the cleanup
        after a retiring commit (``compact``, an overwrite node's
        append) deletes the dirs it retired, so an id listed just
        before that commit can be gone when Spark lists its files.
        The retry re-lists (default mode) and so reads the new
        snapshot instead; with explicit ids it retries a few times and
        then fails loudly, as a genuinely deleted dir must."""
        import time

        explicit = ids is not None
        for attempt in range(5):
            cur = ids if explicit else self.snapshot_ids()
            if not cur:
                return None
            try:
                reader = spark.read
                if merge_schema:
                    reader = reader.option("mergeSchema", "true")
                else:
                    schema = self._recorded_schema(cur)
                    if schema is not None:
                        reader = reader.schema(schema)
                df = reader.parquet(*[str(self.path / sid) for sid in cur])
                if not merge_schema and len(cur) == 1:
                    # Identity-copy marker (round 17, snapflow's A10
                    # copy-graph analog): this DataFrame is EXACTLY the
                    # rows of one snapshot dir. If a node's fn returns
                    # it UNMODIFIED (any DataFrame method would return
                    # a new object without the attribute), append() can
                    # hard-link the parquet files instead of paying a
                    # full Spark read->write job for a byte-identical
                    # re-encode. Single-dir only: a multi-dir union's
                    # Spark rewrite conforms every row to one schema,
                    # which a file copy would not replicate when the
                    # dirs' footers disagree.
                    df._identity_src_dir = str(self.path / cur[0])
                return df
            except AnalysisException as e:
                # Typed match on the error class, not message text
                # (message wording shifts across Spark versions; the
                # class is the stable contract). NOTE the retry covers
                # PLANNING-TIME listing only — a directory vanishing
                # between planning and the action surfaces as an
                # execution-time FileNotFoundException and is not
                # retried here.
                cond = (
                    e.getCondition()
                    if hasattr(e, "getCondition")
                    else e.getErrorClass()
                )
                if cond != "PATH_NOT_FOUND":
                    raise
                if attempt == 4:
                    raise
                time.sleep(0.02 * (attempt + 1))

    def read_as_of(
        self, spark: SparkSession, snapshot_id: str
    ) -> DataFrame | None:
        """TIME TRAVEL: the store's state as of (and including)
        ``snapshot_id`` — the union of every live snapshot committed
        up to it. Ids are zero-padded monotone (`snapshot-000042`),
        so commit order IS lexicographic order and the cut is a
        string compare; compaction rewrites history into a single
        combined snapshot, so time travel reaches back only to the
        last compact (the same horizon Delta's VACUUM imposes —
        documented, not accidental). Unknown ids raise rather than
        silently returning a nearby state."""
        ids = self.snapshot_ids()
        if snapshot_id not in ids:
            raise ValueError(
                f"unknown or retired snapshot {snapshot_id!r}; "
                f"live ids: {ids[:3]}...{ids[-3:] if len(ids) > 3 else ids}"
            )
        return self.read(spark, [s for s in ids if s <= snapshot_id])

    def read_latest(self, spark: SparkSession) -> DataFrame | None:
        """Stream op ``latest`` (SURVEY §2.A A7): most recent snapshot only."""
        ids = self.snapshot_ids()
        return self.read(spark, ids[-1:]) if ids else None

    def compact(self, spark: SparkSession) -> tuple[str | None, list[str]]:
        """Merge all snapshots into one (returns (new_id, retired_ids)).

        A long-lived accumulator store grows one dir per tick; readers
        then pay per-snapshot listing + many small files — the classic
        small-files problem. Compaction rewrites history, so consumers'
        ledgers must be fixed up with it: use ``Pipeline.compact_store``
        rather than calling this directly inside a pipeline (it marks
        the new snapshot consumed for every node that had consumed ALL
        merged ones). The merged snapshot's ``_LEDGER`` record
        ``{"merged": ids}`` lets a pipeline make that fix-up after a
        crash that lost it.

        Crash-safe end-to-end: the merged snapshot retires every dir
        it replaces (including leftovers of an earlier crashed cleanup)
        in its own commit (``publish(retires=)``). It also carries the
        highest streaming batch id per query of those dirs in its
        ``_STREAM`` record, so a replayed epoch is still skipped after
        its snapshot was merged away."""
        # one listing: the visible set being merged, plus any
        # already-masked leftovers, is what the merged dir retires
        listed = self._listed()
        retired = self._retired(listed)
        old = [sid for sid in listed if sid not in retired]
        if len(old) <= 1:
            return None, []
        merged = self.read(spark, old)
        marks = self.stream_marks()  # covers every dir in ``listed``

        def stage(tmp: Path) -> None:
            merged.write.mode("errorifexists").parquet(str(tmp))
            if marks:
                (tmp / _STREAM).write_text(json.dumps(marks))

        sid = self.publish(
            self._next_id(), stage, schema=merged.schema, retires=listed,
            record={"merged": old},
        )
        return sid, old
