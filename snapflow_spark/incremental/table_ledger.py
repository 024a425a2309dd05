"""TableLedger — the run ledger (append-only commit log).

The Spark re-expression of snapflow's DataBlockLog (SURVEY §1.1
[P snapflow/core/metadata/orm.py]): which snapshots each node has
consumed and produced. It is kept the way table formats (Delta/Iceberg)
version their metadata, as an append-only LOG of commits:

- ``<dir>/commit-<version 10d>.json`` — one JSON-LINES file per
  commit, each line one action record::

      {"v": 1, "op": "consume", "node": n, "input": i, "ids": [...]}
      {"v": 1, "op": "produce", "node": n, "produced": sid,
       "retired": [...]}
      {"v": 1, "op": "replace", "node": n, "input": i,
       "retired": [...], "replacement": sid}

  One commit is one node run (a consume record per input plus its
  produce record) or one compaction (a replace record per consumer).
  State is the left fold of all commits in version order. A commit
  costs O(its own delta), never O(history) — a million-tick pipeline
  pays the same per tick as a ten-tick one.

- **Atomic publish with optimistic concurrency**: the commit is
  written to a dot-temp file, then published with ``os.link`` —
  hard-linking fails with EEXIST if that version already exists, so
  two concurrent producers can never both claim version N; the loser
  re-reads the log tail and retries at N+1. (POSIX ``rename``
  silently REPLACES files, so it cannot arbitrate; ``link`` is the
  standard create-exclusive commit primitive. On an object store this
  maps to a conditional PUT / If-None-Match, exactly Delta's
  commit-coordination story.) Because ledger actions are blind
  appends — a consume mark never read-modify-writes another
  producer's state — a retry needs no conflict validation, only a
  fresh version number.

- ``checkpoint-<version 10d>.json`` — the folded state up to and
  including ``version``, written every ``checkpoint_interval``
  commits (and on demand). A new reader loads the LATEST checkpoint
  plus only the commits after it: recovery is O(delta since last
  checkpoint), not O(all commits ever). Commits at or before a
  checkpoint are garbage (``vacuum()`` deletes them); correctness
  never depends on them once the checkpoint exists. Each automatic
  checkpoint also removes what the checkpoint BEFORE it covers, so
  the directory holds at most two checkpoints and the commits since
  the older one, and the listing every commit's ``refresh()`` makes
  stays O(``checkpoint_interval``) however old the pipeline is.

- ``as_dataframe(spark)`` exposes the retained action log as a Spark
  DataFrame — the audit/"metastore table" view (who consumed what,
  in which commit).

``RunLedger`` (``incremental/ledger.py``) is this class under its
older name.
"""

from __future__ import annotations

import json
import os
from collections.abc import Sequence
from pathlib import Path

_COMMIT_PREFIX = "commit-"
_CKPT_PREFIX = "checkpoint-"
_WIDTH = 10


def _fname(prefix: str, version: int) -> str:
    return f"{prefix}{version:0{_WIDTH}d}.json"


class TableLedger:
    """Append-only commit-log run ledger (see module docstring).

    The in-memory fold is a cache of the on-disk log: ``refresh()``
    replays any commits published by OTHER processes since the last
    read, so long-lived concurrent producers stay coherent without
    re-reading history.
    """

    def __init__(
        self,
        path: str | os.PathLike,
        checkpoint_interval: int = 50,
        publish=None,
    ):
        """``publish``: the create-exclusive commit primitive —
        ``publish(tmp: Path, target: Path)`` must atomically make
        ``target`` exist with tmp's content and raise
        ``FileExistsError`` if target already exists (the lost race).
        Default is ``os.link``, which needs a REAL filesystem
        (local/NFS/EFS/HDFS-fuse). On an object store, pass a
        conditional-PUT implementation (S3 ``If-None-Match: *`` /
        GCS ``ifGenerationMatch=0``) — the same contract Delta's
        commit coordinators use (SCALE.md §deploy)."""
        self.path = Path(path)
        self.path.mkdir(parents=True, exist_ok=True)
        self.checkpoint_interval = int(checkpoint_interval)
        self._publish = publish if publish is not None else os.link
        self._data: dict[str, dict[str, list[str]]] = {}
        self._version = -1  # last folded commit version
        self.refresh()

    # ------------------------------------------------------------- read
    def _scan(self) -> tuple[list[int], list[int]]:
        """(sorted commit versions, sorted checkpoint versions) on disk."""
        commits: list[int] = []
        ckpts: list[int] = []
        for p in self.path.iterdir():
            n = p.name
            if n.startswith(_COMMIT_PREFIX) and n.endswith(".json"):
                commits.append(int(n[len(_COMMIT_PREFIX):-5]))
            elif n.startswith(_CKPT_PREFIX) and n.endswith(".json"):
                ckpts.append(int(n[len(_CKPT_PREFIX):-5]))
        return sorted(commits), sorted(ckpts)

    def _apply(self, rec: dict) -> None:
        node = self._data.setdefault(rec["node"], {})
        if rec["op"] == "consume":
            node.setdefault(rec["input"], []).extend(rec["ids"])
        elif rec["op"] == "produce":
            pass  # the run's output, for the audit log only
        elif rec["op"] == "replace":
            ids = node.get(rec["input"])
            if ids:
                retired = set(rec["retired"])
                node[rec["input"]] = [i for i in ids if i not in retired] + [
                    rec["replacement"]
                ]
        else:  # future-proof: unknown ops fail loudly, never skew state
            raise ValueError(f"unknown ledger op {rec['op']!r}")

    def _replay(self, versions: list[int]) -> None:
        for v in versions:
            text = (self.path / _fname(_COMMIT_PREFIX, v)).read_text()
            for line in text.splitlines():
                if line.strip():
                    self._apply(json.loads(line))
            self._version = v

    def refresh(self) -> None:
        """Fold any commits this instance has not seen yet. A fresh
        instance bootstraps from the latest checkpoint (if newer than
        its fold) and replays only the tail.

        Concurrent-vacuum safe: a file listed by ``_scan`` can be
        deleted by another process's checkpoint+vacuum between the
        scan and the read. Any such ``FileNotFoundError`` means a
        NEWER covering checkpoint now exists, so re-scan and retry —
        bounded, because each retry is caused by a vacuum that only
        happens after forward progress (a new checkpoint version)."""
        for _ in range(100):
            try:
                commits, ckpts = self._scan()
                if ckpts and ckpts[-1] > self._version:
                    ck = json.loads(
                        (self.path / _fname(_CKPT_PREFIX, ckpts[-1])).read_text()
                    )
                    self._data = ck["state"]
                    self._version = ck["version"]
                self._replay([v for v in commits if v > self._version])
                return
            except FileNotFoundError:
                continue
        raise RuntimeError(
            f"ledger refresh lost 100 consecutive vacuum races in {self.path}"
        )

    # ---------------------------------------------------------- ledger API
    def consumed(self, node: str, input_name: str) -> list[str]:
        return self._data.get(node, {}).get(input_name, [])

    def unconsumed(
        self, node: str, input_name: str, available: list[str]
    ) -> list[str]:
        seen = set(self.consumed(node, input_name))
        return [sid for sid in available if sid not in seen]

    def mark_consumed(
        self,
        node: str,
        input_name: str | None,
        ids: list[str] | dict[str, list[str]],
        produced: str | None = None,
        retired: Sequence[str] = (),
    ) -> None:
        """Commit one run of ``node``: the ``ids`` it consumed of
        ``input_name`` — or, with ``input_name`` None, ``ids`` maps
        every input to its consumed ids — plus the snapshot it
        ``produced`` and the ids that snapshot ``retired``. One commit,
        whatever the input count; a run that consumed and produced
        nothing commits nothing."""
        consumed = ids if input_name is None else {input_name: ids}
        records = [
            {"op": "consume", "node": node, "input": name, "ids": list(got)}
            for name, got in consumed.items()
            if got
        ]
        if produced is not None:
            records.append(
                {"op": "produce", "node": node, "produced": produced,
                 "retired": list(retired)}
            )
        if records:
            self._commit(records)

    def replace_consumed(
        self,
        node: str | list[tuple[str, str]],
        input_name: str | None,
        retired: list[str],
        replacement: str,
    ) -> None:
        """Compaction fix-up, one commit: swap the ``retired`` ids for
        their merged ``replacement`` in what ``node`` consumed of
        ``input_name`` — or, with ``input_name`` None, for every
        ``(node, input)`` pair listed in ``node``. A pair that has
        consumed nothing is left alone."""
        pairs = node if input_name is None else [(node, input_name)]
        records = [
            {"op": "replace", "node": n, "input": i, "retired": list(retired),
             "replacement": replacement}
            for n, i in pairs
            if self.consumed(n, i)
        ]
        if records:
            self._commit(records)

    # ------------------------------------------------------------ write
    def _commit(self, records: list[dict]) -> int:
        """Publish one commit; returns its version. Retries version
        collisions (another producer claimed it first) after folding
        the winner's records, bounded so a broken filesystem that
        always reports EEXIST still fails loudly."""
        for _ in range(1000):
            self.refresh()
            version = self._version + 1
            recs = [{"v": version, **r} for r in records]
            tmp = self.path / f".commit-{version}-{os.getpid()}.tmp"
            tmp.write_text("\n".join(json.dumps(r) for r in recs) + "\n")
            target = self.path / _fname(_COMMIT_PREFIX, version)
            try:
                # create-exclusive: EEXIST = lost race (default
                # os.link; object stores swap in conditional PUT)
                self._publish(tmp, target)
            except FileExistsError:
                tmp.unlink()
                continue
            tmp.unlink()
            for r in recs:
                self._apply(r)
            self._version = version
            if (
                self.checkpoint_interval > 0
                and (version + 1) % self.checkpoint_interval == 0
            ):
                self.checkpoint()
                self._vacuum(keep=2)
            return version
        raise RuntimeError(
            f"ledger commit lost {1000} consecutive version races in {self.path}"
        )

    def checkpoint(self) -> int:
        """Write the folded state as of the current version. Idempotent
        per version; concurrent checkpointers of the same version write
        identical content, so the EEXIST loser simply discards."""
        self.refresh()
        version = self._version
        if version < 0:
            return version
        tmp = self.path / f".checkpoint-{version}-{os.getpid()}.tmp"
        tmp.write_text(
            json.dumps({"version": version, "state": self._data}, sort_keys=True)
        )
        target = self.path / _fname(_CKPT_PREFIX, version)
        try:
            self._publish(tmp, target)
        except FileExistsError:
            pass
        tmp.unlink()
        return version

    def vacuum(self) -> list[str]:
        """Delete commits covered by the latest checkpoint (and older
        checkpoints). Returns deleted filenames. Never touches the
        tail after the checkpoint — those are still the only record."""
        return self._vacuum(keep=1)

    def _vacuum(self, keep: int) -> list[str]:
        """Vacuum up to the ``keep``-th newest checkpoint. The
        automatic vacuum keeps the previous checkpoint and the commits
        after it: a reader that listed the directory just before the
        newest checkpoint still finds every file it then reads."""
        commits, ckpts = self._scan()
        if len(ckpts) < keep:
            return []
        horizon = ckpts[-keep]
        doomed = [_fname(_COMMIT_PREFIX, v) for v in commits if v <= horizon]
        doomed += [_fname(_CKPT_PREFIX, v) for v in ckpts if v < horizon]
        for name in doomed:
            (self.path / name).unlink(missing_ok=True)
        return doomed

    # ------------------------------------------------------------ audit
    def as_dataframe(self, spark):
        """The retained action log as a DataFrame — the audit table
        view: one row per action record with its commit version (the
        commits since the checkpoint before the latest one). Reads the
        commit files as JSON-lines; an empty log returns an empty
        DataFrame with the stable audit schema."""
        from pyspark.sql import types as T

        schema = T.StructType(
            [
                T.StructField("v", T.LongType()),
                T.StructField("op", T.StringType()),
                T.StructField("node", T.StringType()),
                T.StructField("input", T.StringType()),
                T.StructField("ids", T.ArrayType(T.StringType())),
                T.StructField("produced", T.StringType()),
                T.StructField("retired", T.ArrayType(T.StringType())),
                T.StructField("replacement", T.StringType()),
            ]
        )
        commits, _ = self._scan()
        if not commits:
            return spark.createDataFrame([], schema)
        paths = [str(self.path / _fname(_COMMIT_PREFIX, v)) for v in commits]
        return spark.read.schema(schema).json(paths)
