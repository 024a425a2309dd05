"""merge_delta — the CDC apply shape (round 15): upsert parity
against a python-reconstructed expected table, clause coverage
(update / delete / dict expressions / insert-only), the
multiple-source-rows guard, idempotent replay, CDF
preimage/postimage pairs, and SetTransaction idempotence."""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from snapflow_spark.sources.delta import (
    delta_snapshot,
    merge_delta,
    read_delta,
    read_delta_cdf,
    write_delta,
)


def _tbl(spark, rows):
    return spark.createDataFrame(
        rows, "id long, val long, grp string"
    )


def _state(spark, path):
    return {
        (r.id, r.val, r.grp) for r in read_delta(spark, path).collect()
    }


def test_merge_upsert_parity_and_idempotent_replay(spark, tmp_path):
    path = tmp_path / "t"
    target = [(i, i * 10, "ab"[i % 2]) for i in range(10)]
    source = [(i, i * 100, "ab"[i % 2]) for i in range(5, 15)]
    write_delta(_tbl(spark, target), path, partition_by=["grp"])

    res = merge_delta(spark, path, _tbl(spark, source), on=["id"])
    assert res == {"rows_matched": 5, "rows_inserted": 5}
    # python-reconstructed expected: source wins on key collision
    expected = {r for r in target if r[0] < 5} | set(source)
    assert _state(spark, path) == expected

    # replay the same changelog: every source row now matches — the
    # table converges to the same state (upsert idempotence)
    res2 = merge_delta(spark, path, _tbl(spark, source), on=["id"])
    assert res2 == {"rows_matched": 10, "rows_inserted": 0}
    assert _state(spark, path) == expected


def test_merge_delete_and_insert_only_clauses(spark, tmp_path):
    path = tmp_path / "t"
    write_delta(
        _tbl(spark, [(i, i, "a") for i in range(6)]), path
    )
    # when_matched="delete": matched keys vanish, unmatched source
    # rows are dropped (no insert clause)
    res = merge_delta(
        spark,
        path,
        _tbl(spark, [(2, 0, "x"), (4, 0, "x"), (99, 0, "x")]),
        on=["id"],
        when_matched="delete",
        when_not_matched=None,
    )
    assert res == {"rows_matched": 2, "rows_inserted": 0}
    assert _state(spark, path) == {
        (i, i, "a") for i in (0, 1, 3, 5)
    }
    # insert-only merge: matched rows untouched, new keys append
    res = merge_delta(
        spark,
        path,
        _tbl(spark, [(3, 999, "x"), (7, 7, "b")]),
        on=["id"],
        when_matched=None,
    )
    assert res == {"rows_matched": 0, "rows_inserted": 1}
    assert _state(spark, path) == {
        (i, i, "a") for i in (0, 1, 3, 5)
    } | {(7, 7, "b")}


def test_merge_dict_set_expressions(spark, tmp_path):
    path = tmp_path / "t"
    write_delta(_tbl(spark, [(1, 10, "a"), (2, 20, "a")]), path)
    res = merge_delta(
        spark,
        path,
        _tbl(spark, [(2, 5, "z"), (3, 30, "b")]),
        on=["id"],
        when_matched={"val": "source.val + target.val"},
    )
    assert res == {"rows_matched": 1, "rows_inserted": 1}
    # grp NOT in the set dict: the target's value is kept
    assert _state(spark, path) == {
        (1, 10, "a"),
        (2, 25, "a"),
        (3, 30, "b"),
    }


def test_merge_multiple_source_rows_matching_raise(spark, tmp_path):
    path = tmp_path / "t"
    write_delta(_tbl(spark, [(1, 1, "a")]), path)
    with pytest.raises(ValueError, match="multiple source rows"):
        merge_delta(
            spark,
            path,
            _tbl(spark, [(1, 2, "a"), (1, 3, "a")]),
            on=["id"],
        )
    # duplicates among UNMATCHED rows are delta-legal (they insert)
    # only when no matched clause needs them to be unambiguous —
    # but a matched duplicate must raise even alongside clean rows
    res = merge_delta(
        spark, path, _tbl(spark, [(9, 9, "b")]), on=["id"]
    )
    assert res == {"rows_matched": 0, "rows_inserted": 1}


def test_merge_cdf_emits_update_pairs_and_inserts(spark, tmp_path):
    path = tmp_path / "t"
    write_delta(_tbl(spark, [(1, 10, "a"), (2, 20, "a")]), path)
    # flip on CDF the way an external writer would (v1)
    log = path / "_delta_log"
    meta = None
    for ln in (log / f"{0:020d}.json").read_text().splitlines():
        if '"metaData"' in ln:
            meta = json.loads(ln)["metaData"]
    meta["configuration"] = {"delta.enableChangeDataFeed": "true"}
    (log / f"{1:020d}.json").write_text(
        json.dumps({"metaData": meta}) + "\n"
    )

    res = merge_delta(
        spark,
        path,
        _tbl(spark, [(2, 99, "a"), (3, 30, "b")]),
        on=["id"],
    )  # v2
    assert res == {"rows_matched": 1, "rows_inserted": 1}
    ch = {
        (r.id, r.val, r._change_type)
        for r in read_delta_cdf(spark, path, 2, 2).collect()
    }
    assert ch == {
        (2, 20, "update_preimage"),
        (2, 99, "update_postimage"),
        (3, 30, "insert"),
    }


def test_merge_txn_exactly_once(spark, tmp_path):
    path = tmp_path / "t"
    write_delta(_tbl(spark, [(1, 1, "a")]), path)
    src = _tbl(spark, [(1, 2, "a"), (5, 5, "b")])
    res = merge_delta(spark, path, src, on=["id"], txn=("cdc", 0))
    assert res == {"rows_matched": 1, "rows_inserted": 1}
    # the replayed micro-batch is SKIPPED: the table records the txn
    assert merge_delta(
        spark, path, src, on=["id"], txn=("cdc", 0)
    ) is None
    assert delta_snapshot(spark, path).txns["cdc"] == 0
    assert _state(spark, path) == {(1, 2, "a"), (5, 5, "b")}


def test_merge_guards(spark, tmp_path):
    path = tmp_path / "t"
    write_delta(_tbl(spark, [(1, 1, "a")]), path)
    src = _tbl(spark, [(1, 2, "a")])
    with pytest.raises(ValueError, match="no clauses"):
        merge_delta(
            spark, path, src, on=["id"],
            when_matched=None, when_not_matched=None,
        )
    with pytest.raises(ValueError, match="key columns"):
        merge_delta(spark, path, src, on=["nope"])
    with pytest.raises(ValueError, match="when_matched"):
        merge_delta(spark, path, src, on=["id"], when_matched="upsert")
    with pytest.raises(ValueError, match="unknown columns"):
        merge_delta(
            spark, path, src, on=["id"], when_matched={"zz": "1"}
        )


def test_delta_stream_sink_upsert_mode_exactly_once(spark, tmp_path):
    """delta_stream_sink(keys=): a keyed changelog stream lands
    replace-by-key upserts; replaying the same batches from a fresh
    checkpoint after a restart changes nothing (SetTransaction)."""
    from snapflow_spark.sources.delta import delta_stream_sink

    src = tmp_path / "src"
    table = tmp_path / "tbl"
    schema = "id long, val long, grp string"
    spark.createDataFrame(
        [(1, 10, "a"), (2, 20, "a")], schema
    ).coalesce(1).write.parquet(str(src), mode="overwrite")

    def run(ckpt):
        q = (
            spark.readStream.schema(schema)
            .parquet(str(src))
            .writeStream.foreachBatch(
                delta_stream_sink(table, "cdc-test", keys=["id"])
            )
            .option("checkpointLocation", str(tmp_path / ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run("ck1")
    assert _state(spark, table) == {(1, 10, "a"), (2, 20, "a")}
    # the changelog: update key 2, insert key 3
    spark.createDataFrame(
        [(2, 99, "a"), (3, 30, "b")], schema
    ).coalesce(1).write.parquet(str(src), mode="append")
    run("ck1")
    want = {(1, 10, "a"), (2, 99, "a"), (3, 30, "b")}
    assert _state(spark, table) == want
    # a FRESH checkpoint replays everything as batch 0: the recorded
    # txn high-water mark suppresses the whole replay
    run("ck2")
    assert _state(spark, table) == want


def test_merge_prunes_target_files_by_source_key_bounds(
    spark, tmp_path, monkeypatch
):
    """Touched-file discovery: a narrow changelog prunes the target
    file list from log stats — with 4 single-range files and a
    changelog inside ONE range, every driver collect stays at 1-2
    rows (the source-aggregate row, the descriptor row for the one
    touched file; unpruned it would be 4)."""
    from pyspark.sql.classic.dataframe import DataFrame as _CDF

    path = tmp_path / "t"
    for i in range(4):  # 4 files with disjoint doc_id ranges
        write_delta(
            _tbl(
                spark,
                [(j, j, "a") for j in range(i * 100, i * 100 + 10)],
            ).coalesce(1),
            path,
            mode="append" if i else "error",
        )
    collected: list[int] = []
    orig = _CDF.collect

    def spy(self):
        rows = orig(self)
        collected.append(len(rows))
        return rows

    monkeypatch.setattr(_CDF, "collect", spy)
    res = merge_delta(
        spark,
        path,
        _tbl(spark, [(205, 9999, "z"), (207, 9999, "z")]),
        on=["id"],
    )
    monkeypatch.undo()
    assert res == {"rows_matched": 2, "rows_inserted": 0}
    assert collected and max(collected) <= 2, (
        f"collect sizes {collected}: the 4-file table was not pruned "
        "to the one touched file"
    )
    got = _state(spark, path)
    assert (205, 9999, "z") in got and (207, 9999, "z") in got
    assert (206, 206, "a") in got and len(got) == 40


def test_merge_when_not_matched_by_source_full_sync(spark, tmp_path):
    """when_not_matched_by_source='delete' (round 15): after the
    merge the table holds exactly the source's key set — matched
    keys replaced, new keys inserted, everything else dropped, all
    in ONE commit / one DV pass."""
    path = tmp_path / "t"
    write_delta(
        _tbl(spark, [(i, i, "a") for i in range(6)]), path
    )
    src = _tbl(spark, [(2, 200, "a"), (3, 300, "a"), (9, 900, "b")])
    res = merge_delta(
        spark, path, src, on=["id"],
        when_not_matched_by_source="delete",
    )
    assert res == {
        "rows_matched": 2,
        "rows_inserted": 1,
        "rows_deleted_by_source": 4,
    }
    assert _state(spark, path) == {
        (2, 200, "a"), (3, 300, "a"), (9, 900, "b"),
    }
    # by-source delete with NO matched clause: matched rows untouched
    path2 = tmp_path / "t2"
    write_delta(
        _tbl(spark, [(i, i, "a") for i in range(4)]), path2
    )
    res = merge_delta(
        spark,
        path2,
        _tbl(spark, [(1, 999, "z"), (2, 999, "z")]),
        on=["id"],
        when_matched=None,
        when_not_matched=None,
        when_not_matched_by_source="delete",
    )
    assert res == {
        "rows_matched": 0,
        "rows_inserted": 0,
        "rows_deleted_by_source": 2,
    }
    assert _state(spark, path2) == {(1, 1, "a"), (2, 2, "a")}


def test_merge_by_source_cdf_emits_deletes(spark, tmp_path):
    path = tmp_path / "t"
    write_delta(_tbl(spark, [(1, 10, "a"), (2, 20, "a")]), path)
    log = path / "_delta_log"
    meta = None
    for ln in (log / f"{0:020d}.json").read_text().splitlines():
        if '"metaData"' in ln:
            meta = json.loads(ln)["metaData"]
    meta["configuration"] = {"delta.enableChangeDataFeed": "true"}
    (log / f"{1:020d}.json").write_text(
        json.dumps({"metaData": meta}) + "\n"
    )
    merge_delta(
        spark,
        path,
        _tbl(spark, [(2, 99, "a")]),
        on=["id"],
        when_not_matched_by_source="delete",
    )  # v2
    ch = {
        (r.id, r.val, r._change_type)
        for r in read_delta_cdf(spark, path, 2, 2).collect()
    }
    assert ch == {
        (2, 20, "update_preimage"),
        (2, 99, "update_postimage"),
        (1, 10, "delete"),
    }


def test_merge_repeated_source_keys(spark, tmp_path):
    """The multiple-match check runs only when some source key
    repeats: a repeated key that matches still raises (alongside
    clean rows, for update and delete clauses), and repeated keys
    that match nothing insert every row."""
    path = tmp_path / "t"
    write_delta(_tbl(spark, [(1, 1, "a"), (2, 2, "a")]), path)
    for clause in ("update", "delete", {"val": "source.val"}):
        with pytest.raises(ValueError, match="multiple source rows"):
            merge_delta(
                spark,
                path,
                _tbl(spark, [(2, 20, "a"), (5, 5, "b"), (2, 21, "a")]),
                on=["id"],
                when_matched=clause,
            )
    assert _state(spark, path) == {(1, 1, "a"), (2, 2, "a")}
    # repeated keys, none matching: both copies insert
    res = merge_delta(
        spark,
        path,
        _tbl(spark, [(8, 80, "b"), (8, 81, "b"), (2, 22, "a")]),
        on=["id"],
    )
    assert res == {"rows_matched": 1, "rows_inserted": 2}
    got = sorted(
        (r.id, r.val, r.grp) for r in read_delta(spark, path).collect()
    )
    assert got == [(1, 1, "a"), (2, 22, "a"), (8, 80, "b"), (8, 81, "b")]
    # insert-only merges never check for multiple matches
    res = merge_delta(
        spark,
        path,
        _tbl(spark, [(8, 0, "x"), (8, 1, "x"), (9, 9, "b"), (9, 9, "b")]),
        on=["id"],
        when_matched=None,
    )
    assert res == {"rows_matched": 0, "rows_inserted": 2}
    assert len(read_delta(spark, path).collect()) == 6


def test_merge_counts_exact_with_duplicate_target_keys(spark, tmp_path):
    """rows_matched counts target rows replaced; rows_inserted counts
    source rows whose key matches no LIVE target row — exact when the
    target holds a key twice, and when a key's only target row is
    already deleted."""
    from snapflow_spark.sources.delta import delete_from_delta

    path = tmp_path / "t"
    write_delta(
        _tbl(spark, [(1, 10, "a"), (1, 11, "a"), (2, 20, "a"), (3, 30, "a")]),
        path,
    )
    assert delete_from_delta(spark, path, "id = 3") == 1
    res = merge_delta(
        spark,
        path,
        _tbl(spark, [(1, 100, "a"), (3, 300, "b"), (4, 400, "b")]),
        on=["id"],
    )
    assert res == {"rows_matched": 2, "rows_inserted": 2}
    assert _state(spark, path) == {
        (1, 100, "a"), (2, 20, "a"), (3, 300, "b"), (4, 400, "b"),
    }
    # dict clause over a duplicated target key: each target row is
    # rewritten, the source row counts as matched (not inserted)
    path2 = tmp_path / "t2"
    write_delta(_tbl(spark, [(1, 10, "a"), (1, 11, "a")]), path2)
    res = merge_delta(
        spark,
        path2,
        _tbl(spark, [(1, 5, "z"), (7, 70, "b")]),
        on=["id"],
        when_matched={"val": "source.val + target.val"},
    )
    assert res == {"rows_matched": 2, "rows_inserted": 1}
    assert sorted(
        (r.id, r.val, r.grp) for r in read_delta(spark, path2).collect()
    ) == [(1, 15, "a"), (1, 16, "a"), (7, 70, "b")]


def _strip_add_stats(path: Path) -> None:
    """Rewrite every commit without ``add.stats`` — the shape of an
    external writer that records none."""
    for f in sorted((path / "_delta_log").glob("*.json")):
        out = []
        for ln in f.read_text().splitlines():
            a = json.loads(ln)
            if "add" in a:
                a["add"].pop("stats", None)
            out.append(json.dumps(a))
        f.write_text("\n".join(out) + "\n")


def test_dv_plan_without_add_stats(spark, tmp_path):
    """With no ``numRecords`` stat the DV tasks take each file's row
    count from its footer: partial deletes write DVs, a delete that
    kills every live row of a file drops it (remove, no re-add), and
    merges over stat-less files count exactly."""
    from snapflow_spark.sources.delta import delete_from_delta

    path = tmp_path / "t"
    write_delta(
        _tbl(spark, [(i, i, "a") for i in range(4)]).coalesce(1), path
    )
    write_delta(
        _tbl(spark, [(i, i, "b") for i in range(10, 13)]).coalesce(1),
        path,
    )
    _strip_add_stats(path)
    snap = delta_snapshot(spark, path)
    assert len(snap.files) == 2
    assert all(st is None for _r, _pv, _sz, st in snap.files)

    assert delete_from_delta(spark, path, "id = 1") == 1  # DV
    assert delete_from_delta(spark, path, "id in (0, 2)") == 2  # DV
    snap = delta_snapshot(spark, path)
    assert len(snap.files) == 2 and len(snap.dvs) == 1
    # the last live row of the first file: the whole file drops
    assert delete_from_delta(spark, path, "id = 3") == 1
    last = sorted((path / "_delta_log").glob("*.json"))[-1]
    acts = [json.loads(ln) for ln in last.read_text().splitlines()]
    removed = [a["remove"]["path"] for a in acts if "remove" in a]
    assert len(removed) == 1
    assert not [a for a in acts if "add" in a]
    snap = delta_snapshot(spark, path)
    assert [rel for rel, *_ in snap.files] != removed and not snap.dvs
    assert _state(spark, path) == {(i, i, "b") for i in range(10, 13)}

    res = merge_delta(
        spark,
        path,
        _tbl(spark, [(10, 0, "z"), (11, 0, "z"), (12, 0, "z"), (13, 0, "z")]),
        on=["id"],
    )
    assert res == {"rows_matched": 3, "rows_inserted": 1}
    # every row of the stat-less file was replaced: it drops too,
    # leaving only the staged files (which carry stats) and no DV
    snap = delta_snapshot(spark, path)
    assert all(st is not None for *_f, st in snap.files) and not snap.dvs
    assert _state(spark, path) == {(i, 0, "z") for i in range(10, 14)}


# Jobs one merge_delta launched when this guard was written: the
# staged write of the projected source, then the one match pass
# (per-key source counts, the live target scan joined with them, the
# per-key first-row flag and the per-file DV task), each with its AQE
# stage jobs.
MERGE_JOBS_UNIQUE_KEYS = 6


def test_merge_job_count_guard(spark, tmp_path):
    """A unique-key changelog skips the multiple-match check and
    stages its rows in one write; the jobs merge_delta launches must
    not grow past the count measured for this shape."""
    path = tmp_path / "t"
    write_delta(
        _tbl(spark, [(i, i, "ab"[i % 2]) for i in range(40)]).coalesce(2),
        path,
    )
    src = _tbl(spark, [(i, -i, "ab"[i % 2]) for i in range(30, 50)])
    sc = spark.sparkContext
    group = f"merge-guard-{tmp_path.name}"
    sc.setJobGroup(group, "merge_delta job-count guard")
    try:
        res = merge_delta(spark, path, src, on=["id"])
    finally:
        sc.setJobGroup(None, None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert res == {"rows_matched": 10, "rows_inserted": 10}
    assert 0 < jobs <= MERGE_JOBS_UNIQUE_KEYS, jobs


def test_merge_steady_state_job_count_and_counts(spark, tmp_path):
    """Three overlapping unique-key merges into one table: by the
    third, the target carries DVs and a dead copy of every key the
    earlier merges replaced.  Each merge's counts match a python
    oracle, and the third stays within the unique-key job guard."""
    path = tmp_path / "t"
    oracle = {i: (i, "ab"[i % 2]) for i in range(40)}
    write_delta(
        _tbl(spark, [(i, *oracle[i]) for i in range(40)]).coalesce(2),
        path,
    )
    sc = spark.sparkContext
    for k in range(3):
        keys = range(30 + 10 * k, 50 + 10 * k)
        rows = [(i, 1000 * (k + 1) + i, "ab"[i % 2]) for i in keys]
        want = {
            "rows_matched": sum(1 for i in keys if i in oracle),
            "rows_inserted": sum(1 for i in keys if i not in oracle),
        }
        group = f"merge-steady-{k}-{tmp_path.name}"
        sc.setJobGroup(group, "merge_delta steady-state guard")
        try:
            res = merge_delta(spark, path, _tbl(spark, rows), on=["id"])
        finally:
            sc.setJobGroup(None, None)
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        assert res == want, (k, res, want)
        oracle.update({i: (v, g) for i, v, g in rows})
    assert len(delta_snapshot(spark, path).dvs) > 0
    assert 0 < jobs <= MERGE_JOBS_UNIQUE_KEYS, jobs
    assert _state(spark, path) == {(i, v, g) for i, (v, g) in oracle.items()}


def test_merge_keyed_on_partition_column(spark, tmp_path):
    """A key column that partitions the table prunes by partition
    values (it has no data stats): rows and counts match a python
    oracle, including a source row whose id exists only under the
    other partition value (an insert, not a match)."""
    path = tmp_path / "t"
    target = [(i, i, "ab"[i % 2]) for i in range(10)]
    write_delta(_tbl(spark, target), path, partition_by=["grp"])
    oracle = {(i, g): v for i, v, g in target}
    for source in (
        [(2, 200, "a"), (3, 300, "b"), (4, 400, "b"), (11, 110, "b")],
        [(6, 600, "a"), (8, 800, "a"), (20, 2000, "a")],
    ):
        want = {
            "rows_matched": sum(1 for i, _v, g in source if (i, g) in oracle),
            "rows_inserted": sum(
                1 for i, _v, g in source if (i, g) not in oracle
            ),
        }
        res = merge_delta(
            spark, path, _tbl(spark, source), on=["id", "grp"]
        )
        assert res == want
        oracle.update({(i, g): v for i, v, g in source})
        assert _state(spark, path) == {
            (i, v, g) for (i, g), v in oracle.items()
        }


def test_merge_float_keys_match_nan_in_any_file(spark, tmp_path):
    """Spark matches NaN = NaN, and a writer's stats may leave NaN
    out, so a float key gets no stats bound: the file holding the
    target's NaN key is scanned and its row replaced, not inserted a
    second time."""
    path = tmp_path / "t"
    schema = "k double, val long"
    write_delta(
        spark.createDataFrame(
            [(1.0, 1), (2.0, 2), (float("nan"), 3)], schema
        ).coalesce(1),
        path,
    )
    # the first file's stats as a writer that skips NaN records them
    log0 = path / "_delta_log" / f"{0:020d}.json"
    acts = [json.loads(ln) for ln in log0.read_text().splitlines()]
    for a in acts:
        if "add" in a:
            a["add"]["stats"] = json.dumps(
                {"numRecords": 3, "minValues": {"k": 1.0},
                 "maxValues": {"k": 2.0}, "nullCount": {"k": 0}}
            )
    log0.write_text("".join(json.dumps(a) + "\n" for a in acts))
    write_delta(
        spark.createDataFrame([(100.0, 4), (101.0, 5)], schema).coalesce(1),
        path,
    )
    res = merge_delta(
        spark,
        path,
        spark.createDataFrame([(float("nan"), 30), (100.0, 40)], schema),
        on=["k"],
    )
    assert res == {"rows_matched": 2, "rows_inserted": 0}
    got = sorted(
        (str(r.k), r.val) for r in read_delta(spark, path).collect()
    )
    assert got == [("1.0", 1), ("100.0", 40), ("101.0", 5), ("2.0", 2), ("nan", 30)]


def _files_match_log(path: Path) -> None:
    """Every parquet file and DV sidecar under the table is one the
    log references (an add, a remove or a cdc action), and vice
    versa: a merge that does not commit leaves nothing behind."""
    from urllib.parse import unquote

    from snapflow_spark.sources.deletion_vectors import _dv_sidecar_path

    refs: set[str] = set()
    sidecars: set[str] = set()
    for f in (path / "_delta_log").glob("*.json"):
        for ln in f.read_text().splitlines():
            a = json.loads(ln)
            for kind in ("add", "remove", "cdc"):
                if kind in a:
                    refs.add(unquote(a[kind]["path"]))
            dv = (a.get("add") or {}).get("deletionVector")
            if dv and dv["storageType"] == "u":
                p = _dv_sidecar_path(path, dv["pathOrInlineDv"])
                sidecars.add(str(p.relative_to(path)))
    parquet = {
        str(p.relative_to(path))
        for p in path.rglob("*.parquet")
        if "_delta_log" not in p.parts
    }
    bins = {str(p.relative_to(path)) for p in path.rglob("*.bin")}
    assert parquet == refs
    assert bins == sidecars


def test_merge_multiple_match_raise_leaves_no_staged_files(spark, tmp_path):
    """update + insert stages the projected source before the match
    pass finds a repeated matched key; the raise removes what was
    staged (data files and DV sidecars)."""
    path = tmp_path / "t"
    write_delta(_tbl(spark, [(i, i, "a") for i in range(6)]), path)
    merge_delta(spark, path, _tbl(spark, [(1, 10, "a")]), on=["id"])
    _files_match_log(path)  # one DV'd file already on disk
    before = _state(spark, path)
    with pytest.raises(ValueError, match="multiple source rows"):
        merge_delta(
            spark,
            path,
            _tbl(spark, [(2, 20, "a"), (2, 21, "a"), (3, 30, "a"), (9, 9, "b")]),
            on=["id"],
        )
    _files_match_log(path)
    assert _state(spark, path) == before


def test_merge_txn_conflict_leaves_no_staged_files(spark, tmp_path):
    """A concurrent writer that commits the same txn first makes the
    merge return None without committing; its staged files and DV
    sidecars are removed."""
    import snapflow_spark.sources.delta as deltamod

    path = tmp_path / "t"
    write_delta(_tbl(spark, [(i, i, "a") for i in range(6)]), path)
    # a first merge upgrades the protocol to DVs, which any later
    # commit would otherwise conflict with first
    merge_delta(spark, path, _tbl(spark, [(0, 0, "a")]), on=["id"])
    src = _tbl(spark, [(2, 20, "a"), (3, 30, "a"), (9, 9, "b")])

    def competing(table, v):
        assert merge_delta(
            spark, path, src, on=["id"], txn=("cdc", 0)
        ) == {"rows_matched": 2, "rows_inserted": 1}

    deltamod._pre_commit_hook = competing
    try:
        assert merge_delta(spark, path, src, on=["id"], txn=("cdc", 0)) is None
    finally:
        deltamod._pre_commit_hook = None
    _files_match_log(path)
    assert _state(spark, path) == {
        (0, 0, "a"), (1, 1, "a"), (2, 20, "a"), (3, 30, "a"),
        (4, 4, "a"), (5, 5, "a"), (9, 9, "b"),
    }
