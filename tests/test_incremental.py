"""Incremental-semantics tests (SURVEY.md §5.2(4)): chunked produce()
converges to the one-shot batch result, consumption is exactly-once,
and re-runs are no-ops.
"""

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from snapflow_spark.incremental import Node, Pipeline
from snapflow_spark.operators import dedupe_keep_latest

TX_SCHEMA = "id bigint, customer string, amount double, updated_at timestamp"


def _ts(s):
    return datetime.fromisoformat(s)


@pytest.fixture()
def pipe(tmp_path):
    return Pipeline(str(tmp_path / "warehouse"))


def _chunks(spark):
    return [
        spark.createDataFrame(
            [(1, "alice", 10.0, _ts("2024-01-01T00:00:00")),
             (2, "bob", 20.0, _ts("2024-01-01T01:00:00"))], TX_SCHEMA),
        spark.createDataFrame(
            [(2, "bob", 25.0, _ts("2024-01-02T00:00:00")),
             (4, "dave", 40.0, _ts("2024-01-02T01:00:00"))], TX_SCHEMA),
        spark.createDataFrame(
            [(1, "alice", 15.0, _ts("2024-01-03T00:00:00"))], TX_SCHEMA),
    ]


def _build(pipe):
    pipe.add_node(Node(
        name="accumulated",
        fn=lambda spark, delta: delta,
        upstream={"delta": ("tx", "consumable")},
    ))
    pipe.add_node(Node(
        name="state",
        fn=lambda spark, history: dedupe_keep_latest(
            history, keys=["id"],
            order_by=[F.col("updated_at").desc(), F.col("amount").desc()]),
        upstream={"history": ("accumulated", "reference")},
        overwrite=True,
    ))


def test_incremental_equals_batch(spark, pipe):
    src = pipe.add_source("tx")
    _build(pipe)
    for chunk in _chunks(spark):
        src.append(chunk)
        pipe.produce(spark)
    state = pipe.store("state").read_latest(spark)
    rows = {r.id: r.amount for r in state.collect()}
    assert rows == {1: 15.0, 2: 25.0, 4: 40.0}
    # accumulated history holds every delta row exactly once
    assert pipe.store("accumulated").read(spark).count() == 5


def test_identity_append_is_file_level_copy(spark, tmp_path):
    """Round-17 identity fast path: appending an UNMODIFIED single-dir
    store.read() result hard-links the parquet files (no Spark write
    job); any transformation, or a multi-dir read, falls back to the
    Spark write. Read-back rows are identical either way."""
    from snapflow_spark.incremental.store import SnapshotStore

    src = SnapshotStore(tmp_path / "src")
    dst = SnapshotStore(tmp_path / "dst")
    sid = src.append(_chunks(spark)[0])

    single = src.read(spark, [sid])
    assert getattr(single, "_identity_src_dir", None) == str(src.path / sid)
    out_sid = dst.append(single)
    src_files = {
        p.name: p.stat().st_ino
        for p in (src.path / sid).iterdir()
        if p.suffix == ".parquet"
    }
    dst_files = {
        p.name: p.stat().st_ino
        for p in (dst.path / out_sid).iterdir()
        if p.suffix == ".parquet"
    }
    assert src_files and dst_files == src_files  # hard links: same inodes
    assert (dst.path / out_sid / "_SUCCESS").exists()
    got = {(r.id, r.amount) for r in dst.read(spark, [out_sid]).collect()}
    assert got == {(1, 10.0), (2, 20.0)}

    # a transformed DataFrame carries no marker -> Spark write path
    filtered = single.where(F.col("id") == 1)
    assert getattr(filtered, "_identity_src_dir", None) is None
    f_sid = dst.append(filtered)
    assert dst.read(spark, [f_sid]).count() == 1

    # multi-dir read carries no marker (schema-conform on rewrite)
    src.append(_chunks(spark)[1])
    multi = src.read(spark)
    assert getattr(multi, "_identity_src_dir", None) is None

    # next append after a copy keeps monotone ids (no collision)
    assert dst._next_id() not in dst.snapshot_ids()


def test_produce_is_idempotent_without_new_data(spark, pipe):
    src = pipe.add_source("tx")
    _build(pipe)
    src.append(_chunks(spark)[0])
    assert pipe.produce(spark) > 0
    assert pipe.produce(spark) == 0  # reactive fixed point: nothing new
    assert len(pipe.store("accumulated").snapshot_ids()) == 1


def test_consumption_survives_restart(spark, tmp_path):
    wh = str(tmp_path / "warehouse")
    pipe1 = Pipeline(wh)
    src = pipe1.add_source("tx")
    _build(pipe1)
    src.append(_chunks(spark)[0])
    pipe1.produce(spark)

    # a brand-new Pipeline over the same warehouse resumes from the ledger
    pipe2 = Pipeline(wh)
    pipe2.add_source("tx")
    _build(pipe2)
    assert pipe2.produce(spark) == 0
    pipe2.sources["tx"].append(_chunks(spark)[1])
    assert pipe2.produce(spark) > 0
    assert pipe2.store("accumulated").read(spark).count() == 4


def test_importer_node_runs_once(spark, pipe):
    calls = []

    def importer(spark_):
        calls.append(1)
        return spark_.createDataFrame([(1, "a", 1.0, _ts("2024-01-01T00:00:00"))], TX_SCHEMA)

    pipe.add_node(Node(name="imported", fn=lambda spark: importer(spark)))
    pipe.produce(spark)
    pipe.produce(spark)
    assert len(calls) == 1
    assert pipe.store("imported").read(spark).count() == 1


def test_latest_stream_op(spark, pipe):
    src = pipe.add_source("tx")
    for chunk in _chunks(spark)[:2]:
        src.append(chunk)
    latest = src.read_latest(spark)
    assert {r.id for r in latest.collect()} == {2, 4}


def test_compaction_preserves_incremental_semantics(spark, tmp_path):
    """Compacting a fully-consumed source neither loses rows nor causes
    re-processing; a lagging consumer blocks compaction."""
    import pyspark.sql.functions as F
    import pytest

    from snapflow_spark.incremental import Node, Pipeline

    p = Pipeline(str(tmp_path / "wh"))
    src = p.add_source("raw")
    p.add_node(Node("copy", lambda spark, input: input, {"input": ("raw", "consumable")}))

    for i in range(3):
        src.append(spark.createDataFrame([(i,)], "id long"))
    p.produce(spark)
    assert len(src.snapshot_ids()) == 3

    sid = p.compact_store(spark, "raw")
    assert sid is not None
    assert src.snapshot_ids() == [sid]
    assert src.read(spark).count() == 3
    # consumer must NOT re-process the compacted snapshot
    assert p.produce(spark) == 0
    assert p.store("copy").read(spark).count() == 3

    # new data after compaction flows normally
    src.append(spark.createDataFrame([(99,)], "id long"))
    assert p.produce(spark) == 1
    assert p.store("copy").read(spark).count() == 4

    # lagging consumer blocks compaction
    src.append(spark.createDataFrame([(100,)], "id long"))
    with pytest.raises(ValueError, match="unconsumed"):
        p.compact_store(spark, "raw")


def test_crash_between_write_and_ledger_is_exactly_once(spark, tmp_path, monkeypatch):
    """The recovery contract: output snapshot written but its ledger
    commit lost (crash window) -> the next produce() folds the run
    record the snapshot carries into the ledger instead of re-running
    the node, so the append-log output holds the row exactly once."""
    from snapflow_spark.incremental import Node, Pipeline, TableLedger

    p = Pipeline(str(tmp_path / "wh"))
    src = p.add_source("raw")
    p.add_node(Node("copy", lambda spark, input: input, {"input": ("raw", "consumable")}))
    src.append(spark.createDataFrame([(1,)], "id long"))

    # simulate the crash window: the ledger commit never happens
    def crash(self, records):
        raise RuntimeError("process died before the ledger commit")

    monkeypatch.setattr(TableLedger, "_commit", crash)
    with pytest.raises(RuntimeError, match="ledger commit"):
        p.produce(spark)
    monkeypatch.undo()
    assert p.store("copy").read(spark).count() == 1

    p2 = Pipeline(str(tmp_path / "wh"))
    p2.sources["raw"] = src
    p2.add_node(Node("copy", lambda spark, input: input, {"input": ("raw", "consumable")}))
    assert p2.produce(spark) == 0  # rolled forward, not re-run
    assert p2.store("copy").read(spark).count() == 1
    assert p2.ledger.consumed("copy", "input") == src.snapshot_ids()


def test_api_connector_loop_resumes_from_cursor(spark, tmp_path):
    """A12 connector shape: paged fetch -> one snapshot per page,
    cursor checkpointed after each commit; a new run resumes at the
    tail and a live API's later records arrive incrementally."""
    from snapflow_spark.incremental import SnapshotStore
    from snapflow_spark.sources import import_api_pages, load_cursor

    api_rows = [(i, f"rec{i}") for i in range(25)]  # the "remote" table

    def fetch_page(cursor, page_size=10):
        start = int(cursor or 0)
        page = api_rows[start : start + page_size]
        return [{"id": i, "name": n} for i, n in page], start + len(page)

    store = SnapshotStore(tmp_path / "api")
    r1 = import_api_pages(spark, fetch_page, "id long, name string", store)
    assert (r1.n_pages, r1.n_records) == (3, 25)
    assert store.read(spark).count() == 25
    assert load_cursor(store) == 25

    # caught up: nothing fetched, cursor unchanged
    r2 = import_api_pages(spark, fetch_page, "id long, name string", store)
    assert (r2.n_pages, r2.n_records) == (0, 0)

    # live API grows; only the delta is imported
    api_rows.extend((i, f"rec{i}") for i in range(25, 30))
    r3 = import_api_pages(spark, fetch_page, "id long, name string", store)
    assert (r3.n_pages, r3.n_records) == (1, 5)
    assert store.read(spark).count() == 30
    # max_pages bounds one run without losing the resume point
    api_rows.extend((i, f"rec{i}") for i in range(30, 55))
    r4 = import_api_pages(spark, fetch_page, "id long, name string", store, max_pages=1)
    assert r4.n_records == 10 and load_cursor(store) == 40


def test_api_connector_rejects_none_cursor_with_records(spark, tmp_path):
    """A pager returning records with next_cursor=None must fail loudly
    — persisting None would restart pagination and duplicate history."""
    import pytest

    from snapflow_spark.incremental import SnapshotStore
    from snapflow_spark.sources import import_api_pages

    def bad_pager(cursor):
        return [{"id": 1}], None

    store = SnapshotStore(tmp_path / "bad_api")
    with pytest.raises(ValueError, match="next_cursor=None"):
        import_api_pages(spark, bad_pager, "id long", store)


def test_api_connector_rejects_non_advancing_cursor(spark, tmp_path):
    """A pager returning records with a REPEATED cursor would loop
    forever (max_pages=None) appending duplicate snapshots — the
    monotonic-advance contract makes it fail loudly instead."""
    from snapflow_spark.incremental import SnapshotStore
    from snapflow_spark.sources import import_api_pages

    def stuck_pager(cursor):
        return [{"id": 1}], 7  # always page 7, never advances

    store = SnapshotStore(tmp_path / "stuck_api")
    with pytest.raises(ValueError, match="without advancing"):
        import_api_pages(spark, stuck_pager, "id long", store)
    # exactly one snapshot landed before the violation was detected
    assert len(store.snapshot_ids()) == 1


def test_compact_crash_before_cleanup_never_double_counts(spark, tmp_path):
    """compact()'s commit is the single rename of the merged dir, whose
    embedded _RETIRES manifest masks the originals atomically. A crash
    BETWEEN that rename and the cleanup rmtree loop must leave readers
    seeing exactly the merged rows (not merged + originals), and the
    next compact must reclaim the leftovers."""
    import shutil as _shutil

    from snapflow_spark.incremental import SnapshotStore

    store = SnapshotStore(tmp_path / "cc")
    for i in range(3):
        store.append(spark.createDataFrame([(i,)], "id long"))
    assert len(store.snapshot_ids()) == 3

    real_rmtree = _shutil.rmtree

    def crashing_rmtree(path, *a, **kw):
        # let temp-dir reclaims through; crash on retiring a committed dir
        if "/.s" not in str(path) and "snapshot-" in str(path):
            raise RuntimeError("simulated crash during cleanup")
        return real_rmtree(path, *a, **kw)

    _shutil.rmtree = crashing_rmtree
    try:
        with pytest.raises(RuntimeError, match="simulated crash"):
            store.compact(spark)
    finally:
        _shutil.rmtree = real_rmtree

    # merged snapshot is committed and the originals are masked: reader
    # sees exactly once, even though the original dirs still exist
    ids = store.snapshot_ids()
    assert ids == ["snapshot-000003"]
    assert store.read(spark).count() == 3
    leftovers = [p.name for p in store.path.iterdir() if p.name.startswith("snapshot-")]
    assert len(leftovers) == 4  # 3 originals + merged, but only 1 visible

    # a subsequent append can't collide with a masked leftover id
    store.append(spark.createDataFrame([(99,)], "id long"))
    assert store.snapshot_ids() == ["snapshot-000003", "snapshot-000004"]
    assert store.read(spark).count() == 4

    # next compact reclaims the crashed cleanup's leftovers
    sid, retired = store.compact(spark)
    assert store.snapshot_ids() == [sid]
    assert store.read(spark).count() == 4
    on_disk = [p.name for p in store.path.iterdir() if p.name.startswith("snapshot-")]
    assert on_disk == [sid]


def test_overwrite_node_crash_in_cleanup_leaves_one_live_snapshot(
    spark, pipe, monkeypatch
):
    """An overwrite (latest-state) node's new snapshot retires the old
    ones in its own commit (the ``_RETIRES`` manifest), so a crash in
    the cleanup after the publish leaves readers one live snapshot, not
    the union of old and new; the node's re-run reclaims the
    leftover."""
    import shutil
    from pathlib import Path

    src = pipe.add_source("tx")
    _build(pipe)
    chunks = _chunks(spark)
    src.append(chunks[0])
    pipe.produce(spark)
    state = pipe.store("state")
    (first,) = state.snapshot_ids()

    real_rmtree = shutil.rmtree

    def crashing_rmtree(path, *a, **kw):
        p = Path(path)
        if p.parent == state.path and p.name.startswith("snapshot-"):
            raise RuntimeError("simulated crash during cleanup")
        return real_rmtree(path, *a, **kw)

    monkeypatch.setattr(shutil, "rmtree", crashing_rmtree)
    src.append(chunks[1])
    with pytest.raises(RuntimeError, match="simulated crash"):
        pipe.produce(spark)
    monkeypatch.setattr(shutil, "rmtree", real_rmtree)

    ids = state.snapshot_ids()
    assert len(ids) == 1 and ids != [first]
    assert (state.path / first).exists()  # masked, not yet deleted
    rows = {r.id: r.amount for r in state.read(spark).collect()}
    assert rows == {1: 10.0, 2: 25.0, 4: 40.0}

    src.append(chunks[2])
    pipe.produce(spark)
    ids = state.snapshot_ids()
    on_disk = sorted(
        p.name for p in state.path.iterdir() if p.name.startswith("snapshot-")
    )
    assert len(ids) == 1 and on_disk == ids
    rows = {r.id: r.amount for r in state.read(spark).collect()}
    assert rows == {1: 15.0, 2: 25.0, 4: 40.0}


def test_publish_stages_per_writer_and_reclaims_only_dead_writers(
    spark, tmp_path
):
    """Two writers that picked the same id stage into separate temp
    dirs: a publish leaves a live writer's temp dir alone and reclaims
    one whose process is gone."""
    import os
    import subprocess
    import sys

    from snapflow_spark.incremental.store import SnapshotStore

    store = SnapshotStore(tmp_path / "w")
    dead = subprocess.run([sys.executable, "-c", "import os; print(os.getpid())"],
                          capture_output=True, text=True, check=True).stdout.strip()
    live = store.path / f".snapshot-000000.{os.getpid()}-0000live.tmp"
    gone = store.path / f".snapshot-000000.{dead}-0000gone.tmp"
    for d in (live, gone):
        d.mkdir()
        (d / "part-0.parquet").write_bytes(b"staging")
    assert store.append(spark.createDataFrame([(1,)], "v int")) == "snapshot-000000"
    assert (live / "part-0.parquet").read_bytes() == b"staging"
    assert not gone.exists()
    assert store.read(spark).count() == 1


def test_produce_auto_compact_policy(spark, tmp_path):
    """produce(auto_compact_after=N) bounds every store's snapshot
    count at the fixed point without changing any data or causing
    reprocessing — the small-files policy for long-lived pipelines."""
    from snapflow_spark.incremental.pipeline import Node, Pipeline

    pipe = Pipeline(str(tmp_path / "wh"))
    src = pipe.add_source("src")
    pipe.add_node(
        Node(
            name="history",
            fn=lambda spark, delta: delta,
            upstream={"delta": ("src", "consumable")},
        )
    )
    total = 0
    for tick in range(6):
        src.append(spark.createDataFrame([(tick * 10 + j,) for j in range(3)], "id long"))
        total += 3
        pipe.produce(spark, auto_compact_after=2)
        # both the source and the accumulating node store stay bounded
        assert len(src.snapshot_ids()) <= 3  # compacted + at most new
        assert len(pipe.store("history").snapshot_ids()) <= 3
        got = pipe.store("history").read(spark)
        assert got.count() == total  # nothing lost, nothing doubled

    # compaction fixed up the ledger: a no-new-data produce is a no-op
    assert pipe.produce(spark, auto_compact_after=2) == 0
    assert pipe.store("history").read(spark).count() == total


def test_read_as_of_time_travel(spark, tmp_path):
    """Time travel: read_as_of(id) reconstructs the store state as of
    any committed snapshot; compaction truncates the horizon (like
    VACUUM) and unknown ids raise."""
    import pytest as _pytest

    from snapflow_spark.incremental import SnapshotStore

    store = SnapshotStore(tmp_path / "tt")
    ids = []
    for lo in (0, 10, 20):
        ids.append(
            store.append(spark.range(lo, lo + 10).selectExpr("id AS v"))
        )
    # as-of each commit: exactly the prefix of history
    for i, sid in enumerate(ids):
        got = sorted(r.v for r in store.read_as_of(spark, sid).collect())
        assert got == list(range(0, (i + 1) * 10)), sid
    # latest as-of == full read
    assert store.read_as_of(spark, ids[-1]).count() == store.read(spark).count()

    with _pytest.raises(ValueError, match="unknown or retired"):
        store.read_as_of(spark, "snapshot-999999")

    # compaction rewrites history -> old ids become unreachable, the
    # combined snapshot is the new horizon
    combined, _old = store.compact(spark)
    with _pytest.raises(ValueError, match="unknown or retired"):
        store.read_as_of(spark, ids[0])
    assert store.read_as_of(spark, combined).count() == 30


def test_read_merge_schema_evolution(spark, tmp_path):
    """Schema evolution across snapshots: merge_schema=True unions
    parquet schemas (old snapshots read the new column as NULL); the
    default read keeps the cheap single-footer behavior."""
    from snapflow_spark.incremental import SnapshotStore

    store = SnapshotStore(tmp_path / "evo")
    store.append(spark.createDataFrame([(1, "a")], "id long, v string"))
    store.append(
        spark.createDataFrame([(2, "b", 9.5)], "id long, v string, score double")
    )
    merged = store.read(spark, merge_schema=True)
    assert set(merged.columns) == {"id", "v", "score"}
    rows = {r.id: (r.v, r.score) for r in merged.collect()}
    assert rows == {1: ("a", None), 2: ("b", 9.5)}
    # default read still returns both rows (schema from one footer)
    assert store.read(spark).count() == 2


def test_snapshot_schema_record_skips_inference(spark, tmp_path):
    """Every snapshot the store commits (append, compact, hard-link
    copy, stream epoch) records its Spark schema, and ``read`` passes it — no
    footer-inference job.  A dir without the record, or a set mixing
    recorded and unrecorded dirs, still infers and reads the same
    rows."""
    from snapflow_spark.incremental.store import SnapshotStore

    sc = spark.sparkContext
    runs = iter(range(1000))

    def jobs_and_rows(store, ids=None):
        group = f"schema-record-{tmp_path.name}-{next(runs)}"
        sc.setJobGroup(group, "snapshot read")
        try:
            df = store.read(spark, ids)
        finally:
            sc.setJobGroup(None, None)
        n = len(sc.statusTracker().getJobIdsForGroup(group))
        return n, df.schema, sorted(tuple(r) for r in df.collect())

    store = SnapshotStore(tmp_path / "s")
    a, b, c = (store.append(df) for df in _chunks(spark))
    for sid in (a, b, c):
        assert (store.path / sid / "_SCHEMA").exists()
    jobs, schema, rows = jobs_and_rows(store)
    assert jobs == 0 and len(rows) == 5

    # no record: inferred (one job), same schema and rows
    (store.path / b / "_SCHEMA").unlink()
    jobs_b, schema_b, rows_b = jobs_and_rows(store, [b])
    assert jobs_b > 0
    assert schema_b == schema
    assert rows_b == sorted(tuple(r) for r in _chunks(spark)[1].collect())
    jobs_mixed, schema_mixed, rows_mixed = jobs_and_rows(store)
    assert jobs_mixed > 0
    assert (schema_mixed, rows_mixed) == (schema, rows)

    # hard-link copy carries the record; a copy of an unrecorded dir
    # has none and infers
    dst = SnapshotStore(tmp_path / "d")
    ca = dst.append(store.read(spark, [a]))
    cb = dst.append(store.read(spark, [b]))
    assert (dst.path / ca / "_SCHEMA").exists()
    assert not (dst.path / cb / "_SCHEMA").exists()
    assert jobs_and_rows(dst, [ca])[0] == 0
    assert jobs_and_rows(dst)[1:] == jobs_and_rows(store, [a, b])[1:]

    # a stream-landed epoch records its batch schema too
    from snapflow_spark.streaming import stream_from_snapshots, stream_to_snapshots

    landed = SnapshotStore(tmp_path / "l")
    stream_to_snapshots(stream_from_snapshots(spark, str(store.path), schema), landed)
    (sl,) = landed.snapshot_ids()
    assert (landed.path / sl / "_SCHEMA").exists()
    assert jobs_and_rows(landed) == (0, schema, rows)

    # compaction records the merged schema
    sid, _retired = store.compact(spark)
    assert (store.path / sid / "_SCHEMA").exists()
    assert jobs_and_rows(store) == (0, schema, rows)
