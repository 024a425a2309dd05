"""TableLedger (commit-log run ledger) tests: fold parity with a
reference fold on a shared op sequence, O(delta) append-only commits,
checkpointed recovery that never re-reads vacuumed history, the
create-exclusive version race, crash leftovers, and the Pipeline
running end-to-end on the log backend.
"""

import json
import os
from datetime import datetime

from snapflow_spark.incremental import Node, Pipeline, TableLedger
from snapflow_spark.incremental.table_ledger import _fname, _COMMIT_PREFIX

_KEYS = [("n1", "in"), ("n1", "other"), ("n2", "in"), ("n3", "a"),
         ("n3", "b"), ("ghost", "in")]


def _ops(ledger):
    """A shared op sequence exercising every ledger verb, in both the
    one-input and the run/compaction (several pairs) forms."""
    ledger.mark_consumed("n1", "in", ["s-0", "s-1"])
    ledger.mark_consumed("n1", "in", ["s-2"])
    ledger.mark_consumed("n2", "in", ["s-0"])
    ledger.mark_consumed("n1", "other", ["x-0"])
    ledger.mark_consumed("n1", "in", [])  # no-op
    # one run of a two-input node that produced a snapshot
    ledger.mark_consumed("n3", None, {"a": ["s-0"], "b": ["x-0", "x-1"]},
                         produced="y-0", retired=[])
    ledger.replace_consumed("n1", "in", ["s-0", "s-1", "s-2"], "s-3")
    ledger.replace_consumed("ghost", "in", ["s-0"], "s-3")  # no state: no-op
    # one compaction with two consumers
    ledger.replace_consumed([("n2", "in"), ("n3", "a")], None, ["s-0"], "s-9")


class _ReferenceFold:
    """The fold, spelled out: a dict of lists per (node, input)."""

    def __init__(self):
        self.lists = {}

    def mark_consumed(self, node, input_name, ids, produced=None, retired=()):
        consumed = ids if input_name is None else {input_name: ids}
        for name, got in consumed.items():
            self.lists.setdefault((node, name), []).extend(got)

    def replace_consumed(self, node, input_name, retired, replacement):
        pairs = node if input_name is None else [(node, input_name)]
        for key in pairs:
            if self.lists.get(key):
                kept = [i for i in self.lists[key] if i not in retired]
                self.lists[key] = kept + [replacement]

    def consumed(self, node, input_name):
        return self.lists.get((node, input_name), [])


def _state(ledger):
    return {(n, i): ledger.consumed(n, i) for n, i in _KEYS}


def test_fold_parity_with_reference_fold(tmp_path):
    ref = _ReferenceFold()
    tl = TableLedger(tmp_path / "log")
    _ops(ref)
    _ops(tl)
    assert _state(tl) == _state(ref)
    assert tl.consumed("n3", "a") == ["s-9"]
    assert tl.unconsumed("n1", "in", ["s-3", "s-4", "s-5"]) == ["s-4", "s-5"]
    # a fresh reader of the same log folds to the same state
    assert _state(TableLedger(tmp_path / "log")) == _state(ref)


def test_commits_are_append_only_and_o_delta(tmp_path):
    tl = TableLedger(tmp_path / "log", checkpoint_interval=0)
    sizes = []
    for i in range(20):
        tl.mark_consumed("n", "in", [f"s-{i}"])
        commits = sorted(p for p in os.listdir(tmp_path / "log")
                         if p.startswith(_COMMIT_PREFIX))
        sizes.append((tmp_path / "log" / commits[-1]).stat().st_size)
    assert len(commits) == 20  # one file per commit, none rewritten
    # O(delta): the 20th commit is no bigger than the 1st (same payload
    # shape) — the JSON blob ledger would have grown 20x here.
    assert max(sizes) - min(sizes) <= 2  # id width wiggle only
    assert tl.consumed("n", "in") == [f"s-{i}" for i in range(20)]


def test_checkpoint_recovery_without_history(tmp_path):
    tl = TableLedger(tmp_path / "log", checkpoint_interval=0)
    for i in range(7):
        tl.mark_consumed("n", "in", [f"s-{i}"])
    tl.checkpoint()
    tl.mark_consumed("n", "in", ["s-7"])  # tail after the checkpoint
    doomed = tl.vacuum()
    assert len(doomed) == 7  # pre-checkpoint commits deleted
    # a brand-new reader must reconstruct from checkpoint + tail only
    fresh = TableLedger(tmp_path / "log")
    assert fresh.consumed("n", "in") == [f"s-{i}" for i in range(8)]


def test_auto_checkpoint_interval(tmp_path):
    tl = TableLedger(tmp_path / "log", checkpoint_interval=5)
    for i in range(12):
        tl.mark_consumed("n", "in", [f"s-{i}"])
    names = os.listdir(tmp_path / "log")
    ckpts = sorted(n for n in names if n.startswith("checkpoint-"))
    assert ckpts == [_fname("checkpoint-", 4), _fname("checkpoint-", 9)]


def test_auto_checkpoint_bounds_the_log_dir(tmp_path):
    """Each automatic checkpoint removes what the previous one covers:
    over 3 x checkpoint_interval commits the directory never holds
    more than two checkpoints and the commits since the older one,
    and a fresh reader still folds every commit."""
    interval = 5
    tl = TableLedger(tmp_path / "log", checkpoint_interval=interval)
    most = 0
    for i in range(3 * interval):
        tl.mark_consumed("n", "in", [f"s-{i}"])
        most = max(most, len(os.listdir(tmp_path / "log")))
    assert most <= 2 * interval + 2, most
    names = sorted(os.listdir(tmp_path / "log"))
    assert [n for n in names if n.startswith("checkpoint-")] == [
        _fname("checkpoint-", 9), _fname("checkpoint-", 14)
    ]
    assert [n for n in names if n.startswith(_COMMIT_PREFIX)] == [
        _fname(_COMMIT_PREFIX, v) for v in range(10, 15)
    ]
    want = [f"s-{i}" for i in range(3 * interval)]
    assert tl.consumed("n", "in") == want
    assert TableLedger(tmp_path / "log").consumed("n", "in") == want


def test_version_race_retries_and_loses_nothing(tmp_path):
    a = TableLedger(tmp_path / "log", checkpoint_interval=0)
    b = TableLedger(tmp_path / "log", checkpoint_interval=0)
    a.mark_consumed("n", "in", ["s-0"])
    # b's cached fold is stale (still at version -1): its next commit
    # targets version 0, collides with a's, and must retry at 1 after
    # folding a's record.
    b.mark_consumed("n", "in", ["s-1"])
    assert b.consumed("n", "in") == ["s-0", "s-1"]
    a.refresh()
    assert a.consumed("n", "in") == ["s-0", "s-1"]


def test_refresh_survives_concurrent_vacuum(tmp_path, monkeypatch):
    """A reader's _scan can list commit files that another process's
    checkpoint+vacuum deletes before the reader opens them. The
    FileNotFoundError must trigger a re-scan that bootstraps from the
    new covering checkpoint — not crash the reader."""
    w = TableLedger(tmp_path / "log", checkpoint_interval=0)
    for i in range(5):
        w.mark_consumed("n", "in", [f"s-{i}"])
    r = TableLedger(tmp_path / "log")  # folded to version 4
    w.mark_consumed("n", "in", ["s-5"])  # commit 5, unseen by r
    real_scan = TableLedger._scan
    raced = {"done": False}

    def racing_scan(self):
        out = real_scan(self)
        if self is r and not raced["done"]:
            raced["done"] = True
            # between r's scan and its read of commit-5: the writer
            # checkpoints at v5 and vacuums every covered commit file
            w.checkpoint()
            w.vacuum()
        return out

    monkeypatch.setattr(TableLedger, "_scan", racing_scan)
    r.refresh()
    assert raced["done"]
    assert r.consumed("n", "in") == [f"s-{i}" for i in range(6)]
    # the reader keeps working after the race
    r.mark_consumed("n", "in", ["s-6"])
    w.refresh()
    assert w.consumed("n", "in") == [f"s-{i}" for i in range(7)]


def test_crash_leftover_tmp_is_ignored(tmp_path):
    tl = TableLedger(tmp_path / "log", checkpoint_interval=0)
    tl.mark_consumed("n", "in", ["s-0"])
    (tmp_path / "log" / ".commit-99-12345.tmp").write_text("{garbage")
    fresh = TableLedger(tmp_path / "log")
    assert fresh.consumed("n", "in") == ["s-0"]
    fresh.mark_consumed("n", "in", ["s-1"])
    assert fresh.consumed("n", "in") == ["s-0", "s-1"]


def test_replace_consumed_through_log(tmp_path):
    tl = TableLedger(tmp_path / "log")
    tl.mark_consumed("n", "in", ["s-0", "s-1"])
    tl.replace_consumed("n", "in", ["s-0", "s-1"], "s-2")
    assert tl.consumed("n", "in") == ["s-2"]
    assert tl.unconsumed("n", "in", ["s-2", "s-3"]) == ["s-3"]
    # the replay path reproduces the replacement too
    assert TableLedger(tmp_path / "log").consumed("n", "in") == ["s-2"]


def test_audit_dataframe(spark, tmp_path):
    tl = TableLedger(tmp_path / "log")
    tl.mark_consumed("n1", "in", ["s-0", "s-1"])
    tl.replace_consumed("n1", "in", ["s-0"], "s-9")
    rows = tl.as_dataframe(spark).orderBy("v").collect()
    assert [(r.v, r.op) for r in rows] == [(0, "consume"), (1, "replace")]
    assert rows[0].ids == ["s-0", "s-1"]
    assert rows[1].retired == ["s-0"] and rows[1].replacement == "s-9"
    empty = TableLedger(tmp_path / "empty")
    assert empty.as_dataframe(spark).count() == 0


def test_pipeline_runs_on_table_ledger(spark, tmp_path):
    wh = tmp_path / "warehouse"
    pipe = Pipeline(str(wh))
    src = pipe.add_source("events")
    pipe.add_node(Node(
        name="doubled",
        fn=lambda spark, delta: delta.selectExpr("id", "v * 2 as v2"),
        upstream={"delta": ("events", "consumable")},
    ))
    src.append(spark.createDataFrame([(1, 10), (2, 20)], "id int, v int"))
    assert pipe.produce(spark) == 1
    assert pipe.produce(spark) == 0  # fixed point: exactly-once
    src.append(spark.createDataFrame([(3, 30)], "id int, v int"))
    assert pipe.produce(spark) == 1
    out = pipe.store("doubled").read(spark)
    assert sorted((r.id, r.v2) for r in out.collect()) == [(1, 20), (2, 40), (3, 60)]
    # restart: a new Pipeline over the same log resumes, not re-runs
    pipe2 = Pipeline(str(wh))
    pipe2.add_source("events")
    pipe2.add_node(Node(
        name="doubled",
        fn=lambda spark, delta: delta.selectExpr("id", "v * 2 as v2"),
        upstream={"delta": ("events", "consumable")},
    ))
    assert pipe2.produce(spark) == 0


def test_pipeline_compact_fixes_table_ledger(spark, tmp_path):
    wh = tmp_path / "warehouse"
    pipe = Pipeline(str(wh))
    src = pipe.add_source("events")
    pipe.add_node(Node(
        name="sink",
        fn=lambda spark, delta: delta,
        upstream={"delta": ("events", "consumable")},
    ))
    for i in range(3):
        src.append(spark.createDataFrame([(i,)], "id int"))
        pipe.produce(spark)
    sid = pipe.compact_store(spark, "events")
    assert sid is not None
    # consumer ledger now points at the compacted snapshot: no re-read
    assert pipe.produce(spark) == 0
    assert pipe.store("sink").read(spark).count() == 3


def _writer(args):
    """Top-level so it pickles to worker processes."""
    path, tag, n = args
    from snapflow_spark.incremental import TableLedger

    tl = TableLedger(path, checkpoint_interval=7)
    for i in range(n):
        tl.mark_consumed("node", "in", [f"{tag}-{i}"])
    return tag


def test_concurrent_writers_lose_nothing(tmp_path):
    """Two real processes racing mark_consumed on one log: the
    create-exclusive publish must serialize them without losing a
    single commit (and mixed-in auto-checkpoints must not corrupt the
    fold)."""
    import multiprocessing as mp

    log = str(tmp_path / "log")
    with mp.Pool(2) as pool:
        pool.map(_writer, [(log, "a", 40), (log, "b", 40)])
    final = TableLedger(log)
    got = final.consumed("node", "in")
    assert sorted(got) == sorted(
        [f"a-{i}" for i in range(40)] + [f"b-{i}" for i in range(40)]
    )
    # each writer's own marks stay in its issue order within the fold
    for tag in ("a", "b"):
        own = [s for s in got if s.startswith(tag)]
        assert own == [f"{tag}-{i}" for i in range(40)]


def test_custom_publish_conditional_put_backend(tmp_path):
    """The object-store deployment path: a simulated conditional-PUT
    (If-None-Match) publish honors the same lost-race contract as
    os.link, and the ledger runs identically on it — including losing
    a version race and retrying."""
    import shutil

    puts = {"n": 0}

    def conditional_put(tmp, target):
        puts["n"] += 1
        if os.path.exists(target):  # If-None-Match: * -> 412
            raise FileExistsError(target)
        shutil.copyfile(tmp, target)

    a = TableLedger(tmp_path / "log", checkpoint_interval=0,
                    publish=conditional_put)
    b = TableLedger(tmp_path / "log", checkpoint_interval=0,
                    publish=conditional_put)
    a.mark_consumed("n", "in", ["s-0"])
    b.mark_consumed("n", "in", ["s-1"])
    assert b.consumed("n", "in") == ["s-0", "s-1"]
    a.refresh()
    assert a.consumed("n", "in") == ["s-0", "s-1"]
    assert puts["n"] == 2
    # the lost-race contract holds: publishing onto an existing
    # version raises FileExistsError (the 412 a conditional PUT maps)
    import pytest

    probe = tmp_path / "probe.tmp"
    probe.write_text("z")
    with pytest.raises(FileExistsError):
        conditional_put(probe, tmp_path / "log" / _fname(_COMMIT_PREFIX, 0))
    # ...and the retry loop exercises it end-to-end: plant the next
    # version so b's first publish attempt loses and must re-target
    planted = tmp_path / "log" / _fname(_COMMIT_PREFIX, 2)
    planted.write_text(
        '{"v": 2, "op": "consume", "node": "n", "input": "in", "ids": ["s-2"]}\n'
    )
    before = puts["n"]
    b.mark_consumed("n", "in", ["s-3"])  # refresh folds v2, lands at v3
    assert puts["n"] == before + 1
    assert b.consumed("n", "in") == ["s-0", "s-1", "s-2", "s-3"]
    a.checkpoint()
    a.vacuum()
    fresh = TableLedger(tmp_path / "log")  # reader needs no publisher
    assert fresh.consumed("n", "in") == ["s-0", "s-1", "s-2", "s-3"]
