"""SnapshotStore — an ordered sequence of immutable parquet snapshots.

The Spark re-expression of snapflow's DataBlock stream (SURVEY §1.1):
each ``append`` writes one immutable snapshot dir; readers union any
subset. Parquet dirs written by executors scale to any size — the
store itself is only naming + listing, so the metadata cost is O(#
snapshots), never O(rows).

Each snapshot dir written by the store carries a ``_SCHEMA`` record
(the Spark schema JSON, written into the temp dir before the commit
rename), so ``read`` hands Spark the schema instead of paying a
footer-inference job per read. Dirs without the record (written by
other producers, or before the record existed) are inferred as
before.
"""

from __future__ import annotations

import os
from pathlib import Path
from typing import Callable

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

_SCHEMA = "_SCHEMA"


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
        ``compact``); use ``snapshot_ids`` for the reader view."""
        return sorted(
            p.name for p in self.path.iterdir()
            if p.is_dir()
            and p.name.startswith("snapshot-")
            and (p / "_SUCCESS").exists()
        )

    def _retired(self, listed: list[str]) -> set[str]:
        """Ids masked by a committed snapshot's _RETIRES manifest.
        ``compact`` writes the manifest INSIDE the merged dir before
        the rename, so one atomic rename both publishes the merged
        rows and hides the originals — no crash window in which both
        are visible (double-count) or neither is (data loss)."""
        import json

        retired: set[str] = set()
        for sid in listed:
            m = self.path / sid / "_RETIRES"
            if m.exists():
                retired.update(json.loads(m.read_text()))
        return retired

    def snapshot_ids(self) -> list[str]:
        """Reader view: committed snapshots minus retired ones."""
        listed = self._listed()
        retired = self._retired(listed)
        return [sid for sid in listed if sid not in retired]

    def _next_id(self) -> str:
        # max over ALL committed dirs (retired leftovers included) so a
        # crashed compact's undeleted originals can never cause an id
        # collision with the next append.
        ids = self._listed()
        n = max(int(s.split("-")[1]) for s in ids) + 1 if ids else 0
        return f"snapshot-{n:06d}"

    def publish(
        self,
        sid: str,
        stage: Callable[[Path], None],
        schema: StructType | None = None,
        replay: bool = False,
    ) -> str:
        """The one commit step: the only code that turns a staged dir
        into snapshot ``sid``. ``stage(tmp)`` fills a dot-prefixed temp
        dir (never listed, never claims an id; a crashed earlier write
        of the same id left it behind and is reclaimed first). The
        ``_SCHEMA`` record (when the writer knows the schema) and the
        ``_SUCCESS`` marker go in, then one rename publishes.

        The rename never replaces a committed dir: when ``sid`` exists
        (a concurrent writer committed it), the temp dir is reclaimed —
        the id is never reused, so it would leak — and FileExistsError
        raised. Only ``replay=True`` (a streaming epoch re-run under its
        own epoch-stamped id) retires the existing dir instead, via two
        renames: POSIX has no atomic directory replace, so the id is
        absent for the instant between them, which ``read`` retries
        over. The dot-prefixed retired dir is invisible to readers."""
        import shutil

        target = self.path / sid
        tmp = self.path / f".{sid}.tmp"
        if tmp.exists():  # crashed earlier write of this id
            shutil.rmtree(tmp)
        stage(tmp)
        if schema is not None:
            (tmp / _SCHEMA).write_text(schema.json())
        (tmp / "_SUCCESS").touch()
        if replay and target.exists():
            retired = self.path / f".{sid}.retired"
            if retired.exists():
                shutil.rmtree(retired)
            os.rename(target, retired)
            os.rename(tmp, target)
            shutil.rmtree(retired)
            return sid
        if not target.exists():
            try:
                os.rename(tmp, target)
                return sid
            except OSError:
                if not target.exists():
                    raise
        shutil.rmtree(tmp)
        raise FileExistsError(
            f"snapshot {target} already exists: a concurrent writer "
            "committed this id (the store is single-writer; only a "
            "replayed streaming epoch may overwrite its own id)"
        )

    def _recorded_schema(self, ids: list[str]) -> StructType | None:
        """The schema every snapshot in ``ids`` recorded at commit, or
        None (infer) when any dir lacks the record or two records
        differ — a mixed set keeps Spark's own first-footer choice."""
        import json

        try:
            recs = {(self.path / sid / _SCHEMA).read_text() for sid in ids}
        except OSError:
            return None
        if len(recs) != 1:
            return None
        return StructType.fromJson(json.loads(recs.pop()))

    def append(self, df: DataFrame) -> str:
        """Write one immutable snapshot; returns its id.

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
            sid = self._copy_snapshot(Path(src))
            if sid is not None:
                return sid
        return self.publish(
            self._next_id(),
            lambda tmp: df.write.mode("errorifexists").parquet(str(tmp)),
            schema=df.schema,
        )

    def _copy_snapshot(self, src: Path) -> str | None:
        """Hard-link (copy on link failure) a committed snapshot dir's
        data files into the next snapshot id — same tmp-dir + rename
        commit step as a Spark write (``publish``). Returns None (caller
        falls back to the Spark write) when the source is gone or not
        a committed snapshot. ``_RETIRES`` is deliberately NOT copied:
        it masks ids in the SOURCE store, meaningless here; the
        ``_SCHEMA`` record is (the rows are the same)."""
        import shutil

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
            return self.publish(self._next_id(), link)
        except OSError:
            # a half-linked temp dir is reclaimed by the fallback
            # write, which publishes the same id
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

        Retries when a listed dir has vanished under us: a replayed
        stream epoch swaps its snapshot via two renames
        (``publish(replay=True)``), and POSIX has no atomic directory replace, so
        for the instant between the renames the id is listed-but-
        absent. The retry re-lists (default mode) or waits out the
        swap (explicit ids), bounded so a genuinely deleted dir still
        fails loudly."""
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
        ledgers must be fixed up atomically with it: use
        ``Pipeline.compact_store`` rather than calling this directly
        inside a pipeline (it marks the new snapshot consumed for every
        node that had consumed ALL retired ones).

        Crash-safe end-to-end: the merged snapshot is written to a temp
        dir WITH a ``_RETIRES`` manifest naming every dir it replaces
        (including leftovers from earlier crashed compactions), so the
        single os.rename that commits it atomically retires the
        originals too. The rmtree loop after the rename is pure
        cleanup — a crash anywhere in it leaves dirs that
        ``snapshot_ids`` already excludes, reclaimed by the next
        compact."""
        import json
        import shutil

        old = self.snapshot_ids()
        if len(old) <= 1:
            return None, []
        merged = self.read(spark, old)
        sid = self._next_id()
        # every committed dir on disk except the new one is retired:
        # the visible set being merged, plus any already-masked
        # leftovers a previous crashed cleanup left behind
        retires = self._listed()

        def stage(tmp: Path) -> None:
            merged.write.mode("errorifexists").parquet(str(tmp))
            (tmp / "_RETIRES").write_text(json.dumps(retires))

        # atomic: publishes merged + masks old
        self.publish(sid, stage, schema=merged.schema)

        for o in retires:
            p = self.path / o
            if p.exists():
                shutil.rmtree(p)
        return sid, old
