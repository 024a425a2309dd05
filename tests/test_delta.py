"""Delta Lake layout bridge (sources/delta.py): commit-log replay,
partition pruning on the file list, time travel, checkpoint seeding,
loud guards for unimplemented reader features, SnapshotStore export —
including a log synthesized BY HAND (an external producer, not our
writer) so the reader is proven against the protocol, not against our
own writer's habits."""

from __future__ import annotations

import json
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from snapflow_spark.sources.delta import (
    delta_snapshot,
    read_delta,
    snapshot_store_to_delta,
    write_delta,
    write_delta_checkpoint,
)

ROWS_V0 = [(0, "alpha", "en"), (1, "beta", "en"), (2, "gamma", "de")]
ROWS_V1 = [(3, "delta", "fr"), (4, "epsilon", "de")]
SCHEMA = "doc_id bigint, text string, lang string"


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _rows(df):
    return {(r.doc_id, r.text, r.lang) for r in df.collect()}


def test_write_read_round_trip_partitioned(spark, tmp_path):
    path = tmp_path / "tbl"
    v = write_delta(_df(spark, ROWS_V0), path, partition_by=["lang"])
    assert v == 0
    out = read_delta(spark, path)
    assert _rows(out) == set(ROWS_V0)
    assert [f.name for f in out.schema.fields] == ["doc_id", "text", "lang"]
    # data files live in hive dirs and do NOT contain the partition col
    snap = delta_snapshot(spark, path)
    assert snap.partition_columns == ["lang"]
    assert all(rel.startswith("lang=") for rel, _pv, _sz, _st in snap.files)
    one = Path(path) / snap.files[0][0]
    direct = spark.read.parquet(str(one.parent))
    assert "lang" not in direct.columns


def test_append_overwrite_time_travel(spark, tmp_path):
    path = tmp_path / "tbl"
    write_delta(_df(spark, ROWS_V0), path, partition_by=["lang"])
    v1 = write_delta(_df(spark, ROWS_V1), path, mode="append")
    assert v1 == 1
    assert _rows(read_delta(spark, path)) == set(ROWS_V0) | set(ROWS_V1)
    assert _rows(read_delta(spark, path, version=0)) == set(ROWS_V0)
    replacement = [(9, "omega", "zz")]
    v2 = write_delta(_df(spark, replacement), path, mode="overwrite")
    assert v2 == 2
    assert _rows(read_delta(spark, path)) == set(replacement)
    # old versions still readable: overwrite tombstones, never deletes
    assert _rows(read_delta(spark, path, version=1)) == set(ROWS_V0) | set(
        ROWS_V1
    )
    with pytest.raises(ValueError, match="version 3"):
        read_delta(spark, path, version=3)


def test_partition_pruning_on_file_list(spark, tmp_path):
    path = tmp_path / "tbl"
    write_delta(_df(spark, ROWS_V0 + ROWS_V1), path, partition_by=["lang"])
    out = read_delta(spark, path, partition_filter={"lang": "de"})
    assert _rows(out) == {r for r in ROWS_V0 + ROWS_V1 if r[2] == "de"}
    # the pruning happened at the FILE LIST: no non-de file is scanned
    assert out.count() and all("lang=de" in f for f in out.inputFiles())
    with pytest.raises(ValueError, match="non-partition"):
        read_delta(spark, path, partition_filter={"text": "alpha"})


def test_null_partition_value_round_trips(spark, tmp_path):
    path = tmp_path / "tbl"
    rows = [(0, "a", "en"), (1, "b", None)]
    write_delta(_df(spark, rows), path, partition_by=["lang"])
    assert _rows(read_delta(spark, path)) == set(rows)
    got = read_delta(spark, path, partition_filter={"lang": None})
    assert _rows(got) == {(1, "b", None)}


def test_reader_against_hand_synthesized_log(spark, tmp_path):
    """An EXTERNAL producer's table: parquet files + JSON commits
    written by hand (URL-encoded path, JSON-null partition value,
    remove tombstone in a later commit). Proves the reader speaks the
    protocol, not just our writer's output."""
    table = tmp_path / "ext"
    log = table / "_delta_log"
    log.mkdir(parents=True)

    def data_file(rel: str, rows):
        p = table / rel
        p.parent.mkdir(parents=True, exist_ok=True)
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        df.coalesce(1).write.mode("overwrite").parquet(str(p) + ".tmp")
        part = next(Path(str(p) + ".tmp").glob("*.parquet"))
        part.rename(p)
        import shutil

        shutil.rmtree(str(p) + ".tmp")

    data_file("lang=en/f one.parquet", [(0, "a"), (1, "b")])
    data_file("lang=de/f2.parquet", [(2, "c")])
    data_file("f3.parquet", [(3, "d")])  # null-partition file
    schema_str = spark.createDataFrame(
        [], "doc_id bigint, text string, lang string"
    ).schema.json()
    meta = {
        "metaData": {
            "id": "ext-1",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": schema_str,
            "partitionColumns": ["lang"],
            "configuration": {},
        }
    }
    proto = {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}
    adds = [
        {"add": {"path": "lang=en/f%20one.parquet",
                 "partitionValues": {"lang": "en"}, "size": 1,
                 "dataChange": True}},
        {"add": {"path": "lang=de/f2.parquet",
                 "partitionValues": {"lang": "de"}, "size": 1,
                 "dataChange": True}},
        {"add": {"path": "f3.parquet",
                 "partitionValues": {"lang": None}, "size": 1,
                 "dataChange": True}},
    ]
    (log / f"{0:020d}.json").write_text(
        "\n".join(json.dumps(a) for a in [proto, meta, *adds]) + "\n"
    )
    got = read_delta(spark, table)
    assert _rows(got) == {
        (0, "a", "en"), (1, "b", "en"), (2, "c", "de"), (3, "d", None)
    }
    # commit 1: tombstone the de file
    (log / f"{1:020d}.json").write_text(
        json.dumps({"remove": {"path": "lang=de/f2.parquet",
                               "dataChange": True}}) + "\n"
    )
    assert _rows(read_delta(spark, table)) == {
        (0, "a", "en"), (1, "b", "en"), (3, "d", None)
    }
    assert _rows(read_delta(spark, table, version=0)) == {
        (0, "a", "en"), (1, "b", "en"), (2, "c", "de"), (3, "d", None)
    }


def test_checkpoint_seeds_after_log_cleanup(spark, tmp_path):
    path = tmp_path / "tbl"
    write_delta(_df(spark, ROWS_V0), path, partition_by=["lang"])
    write_delta(_df(spark, ROWS_V1), path, mode="append")
    cp_v = write_delta_checkpoint(spark, path)
    assert cp_v == 1
    want = set(ROWS_V0) | set(ROWS_V1)
    assert _rows(read_delta(spark, path)) == want
    # simulate retention cleanup: drop every JSON commit <= checkpoint
    log = Path(path) / "_delta_log"
    for v in (0, 1):
        (log / f"{v:020d}.json").unlink()
    assert _rows(read_delta(spark, path)) == want  # checkpoint seeds
    with pytest.raises(FileNotFoundError, match="commit 0 missing"):
        read_delta(spark, path, version=0)
    # commits after the checkpoint still replay on top of it
    write_delta(_df(spark, [(7, "eta", "en")]), path, mode="append")
    assert _rows(read_delta(spark, path)) == want | {(7, "eta", "en")}


def test_loud_guards(spark, tmp_path):
    table = tmp_path / "ext"
    log = table / "_delta_log"
    log.mkdir(parents=True)
    schema_str = spark.createDataFrame([], SCHEMA).schema.json()

    def commit(actions):
        (log / f"{0:020d}.json").write_text(
            "\n".join(json.dumps(a) for a in actions) + "\n"
        )

    base_meta = {
        "id": "x", "format": {"provider": "parquet", "options": {}},
        "schemaString": schema_str, "partitionColumns": [],
        "configuration": {},
    }
    # mode=id WITHOUT delta.columnMapping.id metadata is malformed
    # (the READ path itself works since round 14)
    commit([
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {"metaData": {**base_meta, "configuration":
                      {"delta.columnMapping.mode": "id"}}},
    ])
    with pytest.raises(ValueError, match="malformed"):
        read_delta(spark, table)
    # an unknown mapping mode refuses loudly
    commit([
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {"metaData": {**base_meta, "configuration":
                      {"delta.columnMapping.mode": "shiny"}}},
    ])
    with pytest.raises(NotImplementedError, match="shiny"):
        read_delta(spark, table)
    # mode=name WITHOUT physicalName metadata is malformed, not a
    # silent logical-name scan
    commit([
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {"metaData": {**base_meta, "configuration":
                      {"delta.columnMapping.mode": "name"}}},
    ])
    with pytest.raises(ValueError, match="physicalName"):
        read_delta(spark, table)
    # a deletion vector with an unknown storage type dies loudly, not
    # by resurrecting rows (deletionVectors themselves READ since r13)
    commit([
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": base_meta},
        {"add": {"path": "f.parquet", "partitionValues": {}, "size": 1,
                 "dataChange": True,
                 "deletionVector": {"storageType": "z",
                                    "pathOrInlineDv": "x",
                                    "sizeInBytes": 1,
                                    "cardinality": 1}}},
    ])
    with pytest.raises(NotImplementedError, match="storageType"):
        read_delta(spark, table).collect()
    # reader features beyond this bridge (DVs and columnMapping are
    # supported now; an unknown v3 feature still refuses)
    commit([
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["deletionVectors",
                                         "typeWidening"]}},
        {"metaData": base_meta},
    ])
    with pytest.raises(NotImplementedError, match="typeWidening"):
        read_delta(spark, table)


def test_write_modes_and_contracts(spark, tmp_path):
    path = tmp_path / "tbl"
    write_delta(_df(spark, ROWS_V0), path, partition_by=["lang"])
    with pytest.raises(FileExistsError):
        write_delta(_df(spark, ROWS_V1), path, mode="error")
    with pytest.raises(ValueError, match="partitioned by"):
        write_delta(_df(spark, ROWS_V1), path, mode="append",
                    partition_by=[])
    with pytest.raises(ValueError, match="schema differs"):
        write_delta(
            _df(spark, ROWS_V1).withColumn("extra", F.lit(1)),
            path, mode="append",
        )
    with pytest.raises(ValueError, match="not in"):
        write_delta(_df(spark, ROWS_V0), tmp_path / "t2",
                    partition_by=["nope"])


def test_snapshot_store_export(spark, tmp_path):
    from snapflow_spark.incremental.store import SnapshotStore

    store = SnapshotStore(tmp_path / "store")
    store.append(_df(spark, ROWS_V0))
    store.append(_df(spark, ROWS_V1))
    path = tmp_path / "delta_out"
    v = snapshot_store_to_delta(store, spark, path)
    assert v == 0
    assert _rows(read_delta(spark, path)) == set(ROWS_V0) | set(ROWS_V1)
    empty = SnapshotStore(tmp_path / "empty")
    assert snapshot_store_to_delta(empty, spark, tmp_path / "d2") is None


def test_yaml_scan_delta_builtin(spark, tmp_path):
    """core.scan_delta as a zero-input graph source: time travel +
    partition pruning through the YAML surface."""
    from snapflow_spark.plans import load_graph

    path = tmp_path / "tbl"
    write_delta(_df(spark, ROWS_V0 + ROWS_V1), path, partition_by=["lang"])
    cfg = {
        "warehouse": str(tmp_path / "wh_delta"),
        "nodes": [
            {
                "name": "de_docs",
                "function": "core.scan_delta",
                "params": {
                    "path": str(path),
                    "partition_filter": {"lang": "de"},
                },
                "overwrite": True,
            }
        ],
    }
    g = load_graph(cfg)
    assert g.produce(spark) == 1
    got = _rows(g.read(spark, "de_docs"))
    assert got == {r for r in ROWS_V0 + ROWS_V1 if r[2] == "de"}
    # min_max_filter + timestamp_ms flow through the YAML params too
    cfg2 = {
        "warehouse": str(tmp_path / "wh_delta2"),
        "nodes": [
            {
                "name": "skipped",
                "function": "core.scan_delta",
                "params": {
                    "path": str(path),
                    "min_max_filter": {"doc_id": [100, None]},
                    "timestamp_ms": 99_999_999_999_999,
                },
                "overwrite": True,
            }
        ],
    }
    g2 = load_graph(cfg2)
    assert g2.produce(spark) == 1
    # every file's doc_id range provably misses [100, ∞): all skipped
    assert g2.read(spark, "skipped").count() == 0


def test_stats_data_skipping(spark, tmp_path):
    """write_delta folds parquet row-group stats into add.stats;
    min_max_filter drops files whose range provably misses the probe,
    keeps stat-less files, and never acts as a filter (callers still
    predicate the result)."""
    path = tmp_path / "tbl"
    lo = [(i, f"t{i}", "en") for i in range(10)]
    hi = [(i, f"t{i}", "en") for i in range(100, 110)]
    write_delta(_df(spark, lo).coalesce(1), path)
    write_delta(_df(spark, hi).coalesce(1), path, mode="append")
    snap = delta_snapshot(spark, path)
    stats = {rel: st for rel, _pv, _sz, st in snap.files}
    assert all(st and st["numRecords"] == 10 for st in stats.values())
    ranges = sorted(
        (st["minValues"]["doc_id"], st["maxValues"]["doc_id"])
        for st in stats.values()
    )
    assert ranges == [(0, 9), (100, 109)]

    probe = read_delta(spark, path, min_max_filter={"doc_id": (100, None)})
    assert len(probe.inputFiles()) == 1
    assert {r.doc_id for r in probe.collect()} == set(range(100, 110))
    both = read_delta(spark, path, min_max_filter={"doc_id": (5, 105)})
    assert len(both.inputFiles()) == 2
    none = read_delta(spark, path, min_max_filter={"doc_id": (50, 60)})
    assert none.count() == 0
    with pytest.raises(ValueError, match="non-data"):
        read_delta(spark, path, min_max_filter={"nope": (1, 2)})

    # a file with NO stats (external producer) is always kept
    log = Path(path) / "_delta_log"
    commits = sorted(log.glob("*.json"))
    rec = [
        json.loads(ln)
        for ln in commits[-1].read_text().splitlines()
        if ln.strip()
    ]
    adds = [a for a in rec if "add" in a]
    assert adds and all("stats" in a["add"] for a in adds)
    stripped = [
        {"add": {k: v for k, v in a["add"].items() if k != "stats"}}
        for a in adds
    ]
    (log / f"{2:020d}.json").write_text(
        "\n".join(json.dumps(a) for a in stripped) + "\n"
    )  # v2 re-adds the hi file WITHOUT stats (add replaces by path)
    again = read_delta(spark, path, min_max_filter={"doc_id": (0, 9)})
    assert len(again.inputFiles()) == 2  # stat-less file survives


def test_stats_survive_checkpoint(spark, tmp_path):
    path = tmp_path / "tbl"
    write_delta(_df(spark, [(i, "x", "en") for i in range(10)]).coalesce(1),
                path)
    write_delta(
        _df(spark, [(i, "y", "en") for i in range(100, 110)]).coalesce(1),
        path, mode="append",
    )
    write_delta_checkpoint(spark, path)
    log = Path(path) / "_delta_log"
    for v in (0, 1):
        (log / f"{v:020d}.json").unlink()
    probe = read_delta(spark, path, min_max_filter={"doc_id": (100, None)})
    assert len(probe.inputFiles()) == 1  # skipping still works off the cp
    assert probe.count() == 10


def test_vacuum_reclaims_tombstoned_files(spark, tmp_path):
    """vacuum_delta deletes files only the tombstoned history
    references, after checkpointing current state; current reads are
    unaffected, reclaimed-version time travel fails loudly at scan,
    staged/log files are never touched, and the retention window
    (default 7 days, Delta's own) protects fresh files — including
    just-staged parquet a concurrent writer hasn't committed yet."""
    from snapflow_spark.sources.delta import vacuum_delta

    path = tmp_path / "tbl"
    write_delta(_df(spark, ROWS_V0), path, partition_by=["lang"])
    write_delta(_df(spark, [(9, "omega", "zz")]), path, mode="overwrite")
    before = read_delta(spark, path)
    # everything here was written seconds ago: the DEFAULT retention
    # window keeps it all, dry or not
    assert vacuum_delta(spark, path, dry_run=True) == []
    assert vacuum_delta(spark, path) == []
    assert _rows(read_delta(spark, path, version=0)) == set(ROWS_V0)
    # retention_hours=0 moves the cutoff to vacuum start: the
    # tombstoned files reclaim, but a file whose mtime is in the
    # future (a writer staging RIGHT NOW) still survives
    staged = Path(path) / "lang=zz" / "part-staged-now.parquet"
    staged.write_bytes(b"not yet committed")
    import os as _os
    import time as _time

    future = _time.time() + 3600
    _os.utime(staged, (future, future))
    dry = vacuum_delta(spark, path, dry_run=True, retention_hours=0)
    assert dry and all(Path(path, rel).exists() for rel in dry)
    assert "lang=zz/part-staged-now.parquet" not in dry
    gone = vacuum_delta(spark, path, retention_hours=0)
    assert gone == dry
    assert not any(Path(path, rel).exists() for rel in gone)
    assert staged.exists()
    staged.unlink()
    assert _rows(read_delta(spark, path)) == _rows(before)
    # vacuuming again is a no-op
    assert vacuum_delta(spark, path, retention_hours=0) == []
    with pytest.raises(ValueError, match="retention_hours"):
        vacuum_delta(spark, path, retention_hours=-1)
    # reclaimed version: the log replays but the scan fails loudly
    # (Spark raises PATH_NOT_FOUND at relation-planning time)
    with pytest.raises(Exception, match="(?i)path does not exist|FileNotFound"):
        read_delta(spark, path, version=0).collect()
    # the log dir survives intact
    assert (Path(path) / "_delta_log").is_dir()


def _run_stream_once(spark, table, out, ckpt, **opts):
    from snapflow_spark.sources.delta import DeltaStreamDataSource

    spark.dataSource.register(DeltaStreamDataSource)
    reader = spark.readStream.format("delta_log").option("path", str(table))
    for k, v in opts.items():
        reader = reader.option(k, v)
    q = (
        reader.load()
        .writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)


def test_stream_source_appends_exactly_once(spark, tmp_path):
    """spark.readStream.format('delta_log'): the commit-log version is
    the offset — restart from Spark's own offset log consumes ONLY the
    commits that arrived while the stream was down."""
    table = tmp_path / "tbl"
    out, ckpt = tmp_path / "out", tmp_path / "ckpt"
    write_delta(_df(spark, ROWS_V0), table, partition_by=["lang"])
    _run_stream_once(spark, table, out, ckpt)
    assert _rows(spark.read.parquet(str(out))) == set(ROWS_V0)
    # nothing new: a second run appends nothing
    _run_stream_once(spark, table, out, ckpt)
    assert spark.read.parquet(str(out)).count() == len(ROWS_V0)
    # append a commit while the stream is down; restart consumes it
    write_delta(_df(spark, ROWS_V1), table, mode="append")
    _run_stream_once(spark, table, out, ckpt)
    assert _rows(spark.read.parquet(str(out))) == set(ROWS_V0) | set(ROWS_V1)
    assert spark.read.parquet(str(out)).count() == len(ROWS_V0) + len(ROWS_V1)


def test_stream_source_partition_types_and_deletes(spark, tmp_path):
    from snapflow_spark.sources.delta import DeltaStreamDataSource

    table = tmp_path / "tbl"
    write_delta(_df(spark, ROWS_V0), table, partition_by=["lang"])
    out, ckpt = tmp_path / "o1", tmp_path / "c1"
    _run_stream_once(spark, table, out, ckpt)
    got = spark.read.parquet(str(out))
    assert dict(got.dtypes)["lang"] == "string"
    assert _rows(got) == set(ROWS_V0)

    # an overwrite (removes with dataChange) refuses by default ...
    write_delta(_df(spark, [(9, "omega", "zz")]), table, mode="overwrite")
    spark.dataSource.register(DeltaStreamDataSource)
    q = (
        spark.readStream.format("delta_log")
        .option("path", str(table))
        .load()
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "o2"))
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="ignore_deletes"):
        q.awaitTermination(120)
        q.stop()
    # ... and streams the adds with ignore_deletes=true. Fresh
    # checkpoint AND fresh output dir: the parquet FileStreamSink
    # dedupes by batch id in the OUTPUT's _spark_metadata log, so a
    # new query writing batch 0 into an old sink dir is skipped.
    out3 = tmp_path / "o3"
    _run_stream_once(
        spark, table, out3, tmp_path / "c2", ignore_deletes="true",
        starting_version="1",
    )
    assert _rows(spark.read.parquet(str(out3))) == {(9, "omega", "zz")}


def test_stream_reader_yields_arrow_batches(spark, tmp_path):
    """The stream reader's read() crosses the python<->JVM boundary as
    pyarrow RecordBatch objects of at most ``arrow_batch_size`` rows —
    never inflated python row lists — with partition values attached
    as constant Arrow columns of the Spark-schema types.  Bounded
    memory on a large add file follows: at most one batch is resident."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import StructType

    from snapflow_spark.sources.delta import (
        DeltaStreamReader,
        _DeltaAddPartition,
        _log_metadata_nospark,
    )

    table = tmp_path / "tbl"
    write_delta(_df(spark, ROWS_V0), table, partition_by=["lang"])
    schema = StructType.fromJson(
        json.loads(_log_metadata_nospark(table)["schemaString"])
    )
    # a data file whose row count exceeds the batch size
    multi = tmp_path / "multi.parquet"
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(10), type=pa.int64()),
                "text": pa.array([f"t{i}" for i in range(10)]),
            }
        ),
        multi,
    )
    reader = DeltaStreamReader(
        schema, {"path": str(table), "arrow_batch_size": "3"}
    )
    batches = list(
        reader.read(_DeltaAddPartition(str(multi), {"lang": "en"}))
    )
    assert all(isinstance(b, pa.RecordBatch) for b in batches)
    assert len(batches) == 4 and max(b.num_rows for b in batches) <= 3
    got = pa.Table.from_batches(batches)
    assert got.column_names == ["doc_id", "text", "lang"]
    assert got.column("lang").to_pylist() == ["en"] * 10
    assert got.column("doc_id").to_pylist() == list(range(10))
    # a null partition value becomes a typed all-null Arrow column
    nulls = list(
        reader.read(_DeltaAddPartition(str(multi), {"lang": None}))
    )
    assert pa.Table.from_batches(nulls).column("lang").null_count == 10


def _column_mapped_table(spark, table: Path):
    """Hand-publish a delta.columnMapping.mode=name table the way a
    modern Databricks writer lays it out: parquet columns named by
    physicalName uuids, partitionValues/stats keyed by them, logical
    names only in the schemaString field metadata."""
    from pyspark.sql.types import StructType

    phys = {"doc_id": "col-aaaa", "text": "col-bbbb", "lang": "col-cccc"}
    log = table / "_delta_log"
    log.mkdir(parents=True)
    # one physical-named data file per lang partition value
    adds = []
    for lang, rows in (("en", [(0, "a"), (1, "b")]), ("de", [(2, "c")])):
        d = table / f"part-{lang}.parquet"
        df = spark.createDataFrame(
            rows, f"`{phys['doc_id']}` bigint, `{phys['text']}` string"
        ).coalesce(1)
        tmp = str(d) + ".tmp"
        df.write.mode("overwrite").parquet(tmp)
        next(Path(tmp).glob("*.parquet")).rename(d)
        import shutil

        shutil.rmtree(tmp)
        adds.append(
            {
                "add": {
                    "path": d.name,
                    "partitionValues": {phys["lang"]: lang},
                    "size": d.stat().st_size,
                    "modificationTime": 0,
                    "dataChange": True,
                    "stats": json.dumps(
                        {
                            "numRecords": len(rows),
                            "minValues": {phys["doc_id"]: rows[0][0]},
                            "maxValues": {phys["doc_id"]: rows[-1][0]},
                            "nullCount": {phys["doc_id"]: 0},
                        }
                    ),
                }
            }
        )
    schema = {
        "type": "struct",
        "fields": [
            {
                "name": n,
                "type": t,
                "nullable": True,
                "metadata": {
                    "delta.columnMapping.id": i + 1,
                    "delta.columnMapping.physicalName": phys[n],
                },
            }
            for i, (n, t) in enumerate(
                [("doc_id", "long"), ("text", "string"), ("lang", "string")]
            )
        ],
    }
    actions = [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {
            "metaData": {
                "id": "cm-tbl",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": json.dumps(schema),
                "partitionColumns": ["lang"],
                "configuration": {"delta.columnMapping.mode": "name"},
            }
        },
    ] + adds
    (log / f"{0:020d}.json").write_text(
        "\n".join(json.dumps(a) for a in actions) + "\n"
    )


def test_column_mapping_name_mode_reads(spark, tmp_path):
    table = tmp_path / "cm"
    _column_mapped_table(spark, table)
    got = read_delta(spark, table)
    assert [f.name for f in got.schema.fields] == ["doc_id", "text", "lang"]
    assert _rows(got) == {(0, "a", "en"), (1, "b", "en"), (2, "c", "de")}
    # partition + stats filters take LOGICAL names and prune the
    # physical-keyed metadata
    en = read_delta(spark, table, partition_filter={"lang": "en"})
    assert _rows(en) == {(0, "a", "en"), (1, "b", "en")}
    assert len(en.inputFiles()) == 1
    probe = read_delta(spark, table, min_max_filter={"doc_id": (2, None)})
    assert len(probe.inputFiles()) == 1
    assert _rows(probe) == {(2, "c", "de")}
    # round 15: appends stage PHYSICAL-named parquet next to the
    # table's existing physical layout
    import pyarrow.parquet as pq

    before = set(read_delta(spark, table).inputFiles())
    write_delta(_df(spark, [(9, "x", "zz")]), table, mode="append")
    assert _rows(read_delta(spark, table)) == {
        (0, "a", "en"), (1, "b", "en"), (2, "c", "de"), (9, "x", "zz"),
    }
    new_files = set(read_delta(spark, table).inputFiles()) - before
    for f in new_files:
        cols = set(
            pq.ParquetFile(f.removeprefix("file:")).schema_arrow.names
        )
        assert cols == {"col-aaaa", "col-bbbb"}  # physical names
    # round 15: row-level DELETE binds physical names too
    from snapflow_spark.sources.delta import delete_from_delta

    assert delete_from_delta(spark, table, "doc_id = 0") == 1
    assert _rows(read_delta(spark, table)) == {
        (1, "b", "en"), (2, "c", "de"), (9, "x", "zz"),
    }
    # merge_schema EVOLVES the mapped table (round 16) — the added
    # column gets a fresh physical id; deep pins live in
    # test_merge_schema_on_column_mapped_table
    write_delta(
        spark.createDataFrame(
            [(5, "y", "fr", 1.0)],
            "doc_id long, text string, lang string, extra double",
        ),
        table,
        mode="append",
        merge_schema=True,
    )
    assert {
        (r.doc_id, r.extra) for r in read_delta(spark, table).collect()
    } == {(1, None), (2, None), (9, None), (5, 1.0)}


def test_column_mapping_streams_too(spark, tmp_path):
    table = tmp_path / "cm"
    _column_mapped_table(spark, table)
    out, ckpt = tmp_path / "out", tmp_path / "ckpt"
    _run_stream_once(spark, table, out, ckpt)
    got = spark.read.parquet(str(out))
    assert set(got.columns) == {"doc_id", "text", "lang"}
    assert _rows(got) == {(0, "a", "en"), (1, "b", "en"), (2, "c", "de")}


def test_timestamp_time_travel(spark, tmp_path):
    """read_delta(timestamp_ms=...) resolves the newest commit whose
    file mtime is at or before the probe (the protocol's
    pre-inCommitTimestamp rule delta-spark's timestampAsOf uses)."""
    import os as _os

    path = tmp_path / "tbl"
    write_delta(_df(spark, ROWS_V0), path)
    write_delta(_df(spark, ROWS_V1), path, mode="append")
    log = Path(path) / "_delta_log"
    # a PRE-ICT table: strip the commitInfo our writer stamps, then
    # pin deterministic mtimes: v0 at t=1000s, v1 at t=2000s
    for v, t in ((0, 1000), (1, 2000)):
        p = log / f"{v:020d}.json"
        p.write_text(
            "\n".join(
                ln for ln in p.read_text().splitlines()
                if '"commitInfo"' not in ln
            )
            + "\n"
        )
        _os.utime(p, (t, t))
    assert _rows(read_delta(spark, path, timestamp_ms=1_500_000)) == set(
        ROWS_V0
    )
    assert _rows(read_delta(spark, path, timestamp_ms=2_000_000)) == set(
        ROWS_V0
    ) | set(ROWS_V1)
    assert _rows(read_delta(spark, path, timestamp_ms=9_999_999_000)) == set(
        ROWS_V0
    ) | set(ROWS_V1)
    with pytest.raises(ValueError, match="no commit at or before"):
        read_delta(spark, path, timestamp_ms=999)
    with pytest.raises(ValueError, match="not both"):
        read_delta(spark, path, version=0, timestamp_ms=1_500_000)


def test_txn_idempotent_writes(spark, tmp_path):
    """write_delta(txn=) is the protocol's SetTransaction action: a
    replayed (appId, version) pair is skipped, a newer one commits,
    and the recorded high-water mark survives replay + time travel."""
    path = tmp_path / "tbl"
    v = write_delta(_df(spark, ROWS_V0), path, txn=("app", 0))
    assert v == 0
    # replaying the same batch id is a no-op
    assert write_delta(_df(spark, ROWS_V0), path, mode="append",
                       txn=("app", 0)) is None
    assert _rows(read_delta(spark, path)) == set(ROWS_V0)
    # a newer batch id commits; an OLDER one after it is also skipped
    assert write_delta(_df(spark, ROWS_V1), path, mode="append",
                       txn=("app", 1)) == 1
    assert write_delta(_df(spark, ROWS_V1), path, mode="append",
                       txn=("app", 0)) is None
    # a DIFFERENT appId is independent
    assert write_delta(_df(spark, [(9, "omega", "zz")]), path,
                       mode="append", txn=("other", 0)) == 2
    assert delta_snapshot(spark, path).txns == {"app": 1, "other": 0}
    assert spark.read.parquet(str(path)).count() == len(ROWS_V0) + len(
        ROWS_V1
    ) + 1


def test_delta_stream_sink_exactly_once(spark, tmp_path):
    """foreachBatch -> delta_stream_sink: micro-batches land as txn-
    stamped Delta commits; re-running the SAME batches from a fresh
    checkpoint does not duplicate rows (the table itself is the
    idempotence ledger)."""
    from snapflow_spark.sources.delta import delta_stream_sink

    src = tmp_path / "src"
    table = tmp_path / "tbl"
    _df(spark, ROWS_V0).write.parquet(str(src), mode="overwrite")

    def run(ckpt):
        q = (
            spark.readStream.schema(SCHEMA)
            .parquet(str(src))
            .writeStream.foreachBatch(
                delta_stream_sink(table, "ingest-test")
            )
            .option("checkpointLocation", str(tmp_path / ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run("ck1")
    assert _rows(read_delta(spark, table)) == set(ROWS_V0)
    n1 = read_delta(spark, table).count()
    # a FRESH checkpoint replays batch 0 from scratch: the txn high-
    # water mark (appId 'ingest-test', version 0) suppresses the dup
    run("ck2")
    assert read_delta(spark, table).count() == n1
    # new data arrives; the next batch id commits normally
    _df(spark, ROWS_V1).write.parquet(str(src), mode="append")
    run("ck1")
    assert _rows(read_delta(spark, table)) == set(ROWS_V0) | set(ROWS_V1)


def test_cdf_synthesized_from_log(spark, tmp_path):
    """read_delta_cdf without cdc actions: adds are inserts, removed
    files read back as deletes, versions stamp each row, and the
    range bounds clip."""
    from snapflow_spark.sources.delta import read_delta_cdf

    path = tmp_path / "tbl"
    write_delta(_df(spark, ROWS_V0), path, partition_by=["lang"])  # v0
    write_delta(_df(spark, ROWS_V1), path, mode="append")  # v1
    write_delta(_df(spark, [(9, "omega", "zz")]), path, mode="overwrite")  # v2

    def changes(df):
        return {
            (r.doc_id, r.text, r.lang, r._change_type, r._commit_version)
            for r in df.collect()
        }

    full = read_delta_cdf(spark, path)
    want = (
        {(d, t, lg, "insert", 0) for d, t, lg in ROWS_V0}
        | {(d, t, lg, "insert", 1) for d, t, lg in ROWS_V1}
        | {(d, t, lg, "delete", 2) for d, t, lg in ROWS_V0 + ROWS_V1}
        | {(9, "omega", "zz", "insert", 2)}
    )
    assert changes(full) == want
    # range clip: only the overwrite commit
    tail = read_delta_cdf(spark, path, starting_version=2)
    assert changes(tail) == {
        c for c in want if c[4] == 2
    }
    with pytest.raises(ValueError, match="bad range"):
        read_delta_cdf(spark, path, starting_version=3)
    with pytest.raises(ValueError, match="bad range"):
        read_delta_cdf(spark, path, starting_version=1, ending_version=0)


def test_cdf_cdc_actions_are_authoritative(spark, tmp_path):
    """A commit carrying cdc actions yields EXACTLY the change files'
    rows (with their own _change_type) — its add/remove actions are
    file bookkeeping, not changes."""
    from snapflow_spark.sources.delta import read_delta_cdf

    path = tmp_path / "tbl"
    write_delta(_df(spark, ROWS_V0), path)  # v0
    # hand-publish v1 the way an UPDATE with CDF enabled lands: a cdc
    # file under _change_data/ + add/remove bookkeeping
    cdc_rows = [
        (0, "alpha", "en", "update_preimage"),
        (0, "ALPHA!", "en", "update_postimage"),
    ]
    cdc = tmp_path / "tbl" / "_change_data" / "cdc-0.parquet"
    cdc.parent.mkdir(parents=True)
    spark.createDataFrame(
        cdc_rows, SCHEMA + ", _change_type string"
    ).coalesce(1).write.mode("overwrite").parquet(str(cdc) + ".tmp")
    next(Path(str(cdc) + ".tmp").glob("*.parquet")).rename(cdc)
    import shutil

    shutil.rmtree(str(cdc) + ".tmp")
    # bookkeeping: re-add the (logically rewritten) data file
    snap = delta_snapshot(spark, path)
    rel, pv, sz, _st = snap.files[0]
    log = Path(path) / "_delta_log"
    (log / f"{1:020d}.json").write_text(
        "\n".join(
            json.dumps(a)
            for a in [
                {"cdc": {"path": "_change_data/cdc-0.parquet",
                         "partitionValues": {}, "size": cdc.stat().st_size,
                         "dataChange": False}},
                {"remove": {"path": rel, "dataChange": True}},
                {"add": {"path": rel, "partitionValues": pv, "size": sz,
                         "modificationTime": 0, "dataChange": True}},
            ]
        )
        + "\n"
    )
    got = {
        (r.doc_id, r.text, r._change_type, r._commit_version)
        for r in read_delta_cdf(spark, path, starting_version=1).collect()
    }
    assert got == {
        (0, "alpha", "update_preimage", 1),
        (0, "ALPHA!", "update_postimage", 1),
    }


def test_yaml_scan_delta_cdf_builtin(spark, tmp_path):
    from snapflow_spark.plans import load_graph

    path = tmp_path / "tbl"
    write_delta(_df(spark, ROWS_V0), path)
    write_delta(_df(spark, ROWS_V1), path, mode="append")
    cfg = {
        "warehouse": str(tmp_path / "wh_cdf"),
        "nodes": [
            {
                "name": "changes",
                "function": "core.scan_delta_cdf",
                "params": {"path": str(path), "starting_version": 1},
                "overwrite": True,
            }
        ],
    }
    g = load_graph(cfg)
    assert g.produce(spark) == 1
    got = {
        (r.doc_id, r._change_type, r._commit_version)
        for r in g.read(spark, "changes").collect()
    }
    assert got == {(d, "insert", 1) for d, _t, _lg in ROWS_V1}


def _id_mapped_table(spark, table: Path):
    """Hand-publish a delta.columnMapping.mode=id table: parquet
    columns carry FIELD IDS in their footers and names that match
    NEITHER the logical names NOR the schema's physicalNames (the
    converted-table shape id mode exists for); partitionValues key
    physical names; binding must go through the ids."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    phys = {"doc_id": "col-aaaa", "text": "col-bbbb", "lang": "col-cccc"}
    log = table / "_delta_log"
    log.mkdir(parents=True)
    adds = []
    for lang, rows in (("en", [(0, "a"), (1, "b")]), ("de", [(2, "c")])):
        d = table / f"part-{lang}.parquet"
        arrow_schema = pa.schema(
            [
                pa.field("legacy_key", pa.int64(),
                         metadata={b"PARQUET:field_id": b"1"}),
                pa.field("legacy_body", pa.string(),
                         metadata={b"PARQUET:field_id": b"2"}),
            ]
        )
        pq.write_table(
            pa.table(
                {
                    "legacy_key": [r[0] for r in rows],
                    "legacy_body": [r[1] for r in rows],
                },
                schema=arrow_schema,
            ),
            d,
        )
        adds.append(
            {
                "add": {
                    "path": d.name,
                    "partitionValues": {phys["lang"]: lang},
                    "size": d.stat().st_size,
                    "modificationTime": 0,
                    "dataChange": True,
                }
            }
        )
    schema = {
        "type": "struct",
        "fields": [
            {
                "name": n,
                "type": t,
                "nullable": True,
                "metadata": {
                    "delta.columnMapping.id": i + 1,
                    "delta.columnMapping.physicalName": phys[n],
                },
            }
            for i, (n, t) in enumerate(
                [("doc_id", "long"), ("text", "string"), ("lang", "string")]
            )
        ],
    }
    actions = [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {
            "metaData": {
                "id": "cmid-tbl",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": json.dumps(schema),
                "partitionColumns": ["lang"],
                "configuration": {"delta.columnMapping.mode": "id"},
            }
        },
    ] + adds
    (log / f"{0:020d}.json").write_text(
        "\n".join(json.dumps(a) for a in actions) + "\n"
    )


def test_column_mapping_id_mode_reads(spark, tmp_path):
    """mode=id: parquet columns bind by footer field id (names are
    red herrings), logical names come out, partition pruning still
    keys the physical partitionValues; round 15: appends stage
    physical-named parquet WITH footer field ids."""
    import pyarrow.parquet as pq

    table = tmp_path / "cmid"
    _id_mapped_table(spark, table)
    got = read_delta(spark, table)
    assert [f.name for f in got.schema.fields] == ["doc_id", "text", "lang"]
    assert _rows(got) == {(0, "a", "en"), (1, "b", "en"), (2, "c", "de")}
    en = read_delta(spark, table, partition_filter={"lang": "en"})
    assert _rows(en) == {(0, "a", "en"), (1, "b", "en")}
    assert len(en.inputFiles()) == 1
    before = set(read_delta(spark, table).inputFiles())
    write_delta(_df(spark, [(9, "x", "zz")]), table, mode="append")
    assert _rows(read_delta(spark, table)) == {
        (0, "a", "en"), (1, "b", "en"), (2, "c", "de"), (9, "x", "zz"),
    }
    new_files = set(read_delta(spark, table).inputFiles()) - before
    assert new_files
    for f in new_files:
        sch = pq.ParquetFile(f.removeprefix("file:")).schema_arrow
        ids = {
            n: (sch.field(n).metadata or {}).get(b"PARQUET:field_id")
            for n in sch.names
        }
        # physical names AND the table's footer field ids
        assert ids == {"col-aaaa": b"1", "col-bbbb": b"2"}
    # round 15: row-level ops bind by footer id too
    from snapflow_spark.sources.delta import delete_from_delta

    assert delete_from_delta(spark, table, "doc_id = 1") == 1
    assert _rows(read_delta(spark, table)) == {
        (0, "a", "en"), (2, "c", "de"), (9, "x", "zz"),
    }


def test_optimize_delta_compacts_and_materializes_dvs(spark, tmp_path):
    """optimize_delta: small files bin-pack per partition, DVs
    materialize (rewritten files carry only live rows, descriptors
    drop), content is row-identical, CDF sees NO change rows for the
    optimize commit, and time travel still reads the pre-compaction
    layout."""
    from snapflow_spark.sources.delta import (
        delete_from_delta,
        delta_snapshot,
        optimize_delta,
        read_delta,
        read_delta_cdf,
    )

    path = tmp_path / "tbl"
    rows = [(i, f"t{i}", "en" if i % 2 == 0 else "de") for i in range(20)]
    # many small files: 4 appends x 2 partitions
    for k in range(4):
        write_delta(
            _df(spark, rows[k * 5:(k + 1) * 5]).repartition(2),
            path,
            partition_by=["lang"],
        )
    # a DV on top (round-14 delete writer)
    assert delete_from_delta(spark, path, "doc_id = 7") == 1
    before = _rows(read_delta(spark, path))
    v_before = delta_snapshot(spark, path).version
    n_files_before = len(delta_snapshot(spark, path).files)

    out = optimize_delta(spark, path)
    assert out["files_removed"] >= 2
    snap = delta_snapshot(spark, path)
    assert snap.version == v_before + 1
    assert len(snap.files) < n_files_before
    assert len(snap.files) == 2  # one compacted file per partition
    assert snap.dvs == {}  # deletes materialized
    assert _rows(read_delta(spark, path)) == before
    # CDF: the optimize commit contributes zero change rows
    assert read_delta_cdf(spark, path, snap.version, snap.version).count() == 0
    # time travel to the pre-optimize version still works
    assert _rows(read_delta(spark, path, version=v_before)) == before
    # idempotent-ish: a second pass finds nothing worth doing
    assert optimize_delta(spark, path) == {
        "files_removed": 0, "files_added": 0, "rows": 0
    }
    # partition_filter guard
    with pytest.raises(ValueError, match="non-partition"):
        optimize_delta(spark, path, partition_filter={"text": "x"})


def test_stream_skips_optimize_commits(spark, tmp_path):
    """An OPTIMIZE commit (dataChange=false adds/removes) contributes
    NOTHING to the append stream — rearranged rows are not new data;
    streaming them would duplicate every compacted row."""
    from snapflow_spark.sources.delta import optimize_delta

    table = tmp_path / "tbl"
    out, ckpt = tmp_path / "out", tmp_path / "ckpt"
    for k in range(3):  # three small files
        write_delta(_df(spark, [ROWS_V0[k]]), table)
    _run_stream_once(spark, table, out, ckpt)
    assert _rows(spark.read.parquet(str(out))) == set(ROWS_V0)
    res = optimize_delta(spark, table)
    assert res["files_removed"] >= 3 and res["files_added"] == 1
    # restart: the optimize commit adds zero rows to the stream
    _run_stream_once(spark, table, out, ckpt)
    got = spark.read.parquet(str(out))
    assert got.count() == len(ROWS_V0)
    # new data after the optimize still streams
    write_delta(_df(spark, ROWS_V1), table, mode="append")
    _run_stream_once(spark, table, out, ckpt)
    assert _rows(spark.read.parquet(str(out))) == set(ROWS_V0) | set(ROWS_V1)


def test_merge_schema_append_evolution(spark, tmp_path):
    """write_delta(merge_schema=True): appends may ADD nullable
    columns — the commit carries a widened metaData, old files read
    back with nulls for the new columns, time travel sees the old
    schema, and drops/retypes still refuse."""
    from snapflow_spark.sources.delta import delta_snapshot

    path = tmp_path / "tbl"
    write_delta(_df(spark, ROWS_V0), path)
    evolved = spark.createDataFrame(
        [(10, "zeta", "fr", 0.9)],
        "doc_id bigint, text string, lang string, score double",
    )
    # without the flag: refusal names the escape hatches
    with pytest.raises(ValueError, match="merge_schema"):
        write_delta(evolved, path, mode="append")
    v = write_delta(evolved, path, mode="append", merge_schema=True)
    assert v == 1
    got = read_delta(spark, path)
    assert [f.name for f in got.schema.fields] == [
        "doc_id", "text", "lang", "score"
    ]
    rows = {(r.doc_id, r.text, r.lang, r.score) for r in got.collect()}
    assert rows == {(d, t, lg, None) for d, t, lg in ROWS_V0} | {
        (10, "zeta", "fr", 0.9)
    }
    # the new column is nullable in the evolved schema
    snap = delta_snapshot(spark, path)
    assert snap.schema["score"].nullable
    # time travel to v0 shows the ORIGINAL schema
    v0 = read_delta(spark, path, version=0)
    assert [f.name for f in v0.schema.fields] == ["doc_id", "text", "lang"]
    # later appends with the evolved schema need no flag
    write_delta(
        spark.createDataFrame(
            [(11, "eta", "de", 0.1)],
            "doc_id bigint, text string, lang string, score double",
        ),
        path,
        mode="append",
    )
    assert read_delta(spark, path).count() == 5
    # dropping or retyping existing columns still refuses
    with pytest.raises(ValueError, match="ADD columns"):
        write_delta(
            spark.createDataFrame([(1, "x")], "doc_id bigint, text string"),
            path, mode="append", merge_schema=True,
        )
    with pytest.raises(ValueError, match="ADD columns"):
        write_delta(
            spark.createDataFrame(
                [("1", "x", "en", 0.2)],
                "doc_id string, text string, lang string, score double",
            ),
            path, mode="append", merge_schema=True,
        )


def test_v2_checkpoint_with_sidecars(spark, tmp_path):
    """V2 checkpoints park their file actions in SIDECAR parquet
    under _delta_log/_sidecars/ — the reader must follow the sidecar
    pointers or silently lose every row (the hazard of treating
    v2Checkpoint as a 'harmless' feature)."""
    import shutil as _sh

    path = tmp_path / "tbl"
    write_delta(_df(spark, ROWS_V0), path)            # v0
    write_delta(_df(spark, ROWS_V1), path, mode="append")  # v1
    snap = delta_snapshot(spark, path)
    log = Path(path) / "_delta_log"

    # hand-publish a v2-shaped checkpoint at version 1: metaData +
    # protocol + sidecar POINTER in the top-level file, the add
    # actions in the sidecar parquet
    side_dir = log / "_sidecars"
    side_dir.mkdir()
    add_t = (
        "struct<path:string,partitionValues:map<string,string>,"
        "size:bigint,modificationTime:bigint,dataChange:boolean>"
    )
    adds = [
        ((rel, pv, sz, 0, True),)
        for rel, pv, sz, _st in snap.files
    ]
    tmp = str(side_dir / ".stage")
    spark.createDataFrame(adds, f"add {add_t}").coalesce(1).write.parquet(tmp)
    side_name = "sc-001.parquet"
    next(Path(tmp).glob("*.parquet")).rename(side_dir / side_name)
    _sh.rmtree(tmp)

    meta_t = (
        "struct<id:string,format:struct<provider:string>,"
        "schemaString:string,partitionColumns:array<string>,"
        "configuration:map<string,string>>"
    )
    proto_t = "struct<minReaderVersion:int,minWriterVersion:int>"
    side_t = "struct<path:string,sizeInBytes:bigint>"
    cpmeta_t = "struct<version:bigint>"
    top_schema = (
        f"metaData {meta_t}, protocol {proto_t}, sidecar {side_t}, "
        f"checkpointMetadata {cpmeta_t}"
    )
    m = snap.metadata
    top_rows = [
        (
            (m["id"], ("parquet",), m["schemaString"], [], {}),
            None, None, (1,),
        ),
        (None, (1, 2), None, None),
        (
            None, None,
            (side_name, (side_dir / side_name).stat().st_size),
            None,
        ),
    ]
    tmp2 = str(log / ".cpstage")
    spark.createDataFrame(top_rows, top_schema).coalesce(1).write.parquet(tmp2)
    import uuid as _uuid

    cp_name = f"{1:020d}.checkpoint.{_uuid.uuid4().hex}.parquet"
    next(Path(tmp2).glob("*.parquet")).rename(log / cp_name)
    _sh.rmtree(tmp2)
    (log / "_last_checkpoint").write_text(json.dumps({"version": 1}))

    # drop the JSON commits: only the v2 checkpoint can seed now
    for v in (0, 1):
        (log / f"{v:020d}.json").unlink()
    got = read_delta(spark, path)
    assert _rows(got) == set(ROWS_V0) | set(ROWS_V1)
    # commits after the checkpoint still replay on top
    write_delta(_df(spark, [(7, "eta", "en")]), path, mode="append")
    assert _rows(read_delta(spark, path)) == (
        set(ROWS_V0) | set(ROWS_V1) | {(7, "eta", "en")}
    )


def test_timestamp_travel_prefers_in_commit_timestamps(spark, tmp_path):
    """Tables with the inCommitTimestamp feature time-travel on the
    commitInfo timestamps (clock-skew-proof), not file mtimes."""
    import os as _os

    path = tmp_path / "tbl"
    write_delta(_df(spark, ROWS_V0), path)
    write_delta(_df(spark, ROWS_V1), path, mode="append")
    log = Path(path) / "_delta_log"
    # stamp ICTs that DISAGREE with the mtimes: v0 at 5_000_000,
    # v1 at 6_000_000, while mtimes say ~now
    for v, ict in ((0, 5_000_000_000), (1, 6_000_000_000)):
        p = log / f"{v:020d}.json"
        body = p.read_text()
        p.write_text(
            json.dumps({"commitInfo": {"inCommitTimestamp": ict,
                                       "operation": "WRITE"}})
            + "\n" + body
        )
        _os.utime(p, (1_000_000_000, 1_000_000_000))  # mtime: 2001
    assert _rows(
        read_delta(spark, path, timestamp_ms=5_500_000_000)
    ) == set(ROWS_V0)
    assert _rows(
        read_delta(spark, path, timestamp_ms=6_000_000_000)
    ) == set(ROWS_V0) | set(ROWS_V1)
    with pytest.raises(ValueError, match="no commit at or before"):
        read_delta(spark, path, timestamp_ms=4_999_999_999)


def test_restore_delta(spark, tmp_path):
    """restore_delta: table state rolls back as ONE new commit —
    removed files come back (DV state included), later files go,
    history and time travel stay intact, restoring to the current
    state is a no-op."""
    from snapflow_spark.sources.delta import (
        delete_from_delta,
        restore_delta,
    )

    path = tmp_path / "tbl"
    write_delta(_df(spark, ROWS_V0), path)             # v0
    delete_from_delta(spark, path, "doc_id = 1")       # v1 (DV)
    write_delta(_df(spark, ROWS_V1), path, mode="append")  # v2
    full = set(ROWS_V0) | set(ROWS_V1) - {(1, "beta", "en")}
    assert _rows(read_delta(spark, path)) == (
        set(ROWS_V0) - {(1, "beta", "en")}
    ) | set(ROWS_V1)
    # restore to v0: the delete AND the append roll back
    v = restore_delta(spark, path, version=0)
    assert v == 3
    assert _rows(read_delta(spark, path)) == set(ROWS_V0)
    # the intermediate states still time travel
    assert _rows(read_delta(spark, path, version=1)) == set(ROWS_V0) - {
        (1, "beta", "en")
    }
    assert _rows(read_delta(spark, path, version=2)) == (
        set(ROWS_V0) - {(1, "beta", "en")}
    ) | set(ROWS_V1)
    # restore to v1 brings the DV back
    v2 = restore_delta(spark, path, version=1)
    assert v2 == 4
    assert _rows(read_delta(spark, path)) == set(ROWS_V0) - {
        (1, "beta", "en")
    }
    # no-op restore: same version back, no commit
    assert restore_delta(spark, path, version=4) == 4
    assert restore_delta(spark, path, version=1) == 4


# --------------------------------------------- round 15: ADVICE fixes


def test_hadoop_file_uri_matches_scan_metadata_special_chars(
    spark, tmp_path
):
    """hadoop_file_uri is the load-bearing join key for DV anti-joins
    and partition re-attach — pin it against the ACTUAL
    _metadata.file_path Spark reports, for a path carrying a space,
    '%', '+', and ';' (java.net.URI keeps '+' and ';' literal)."""
    from snapflow_spark.sources.delta import hadoop_file_uri

    weird = tmp_path / "sp ace%40+;semi"
    weird.mkdir()
    spark.range(5).coalesce(1).write.parquet(str(weird / "p"))
    files = sorted((weird / "p").glob("*.parquet"))
    assert files
    got = {
        r[0]
        for r in spark.read.parquet(str(weird / "p"))
        .select("_metadata.file_path")
        .distinct()
        .collect()
    }
    assert got == {hadoop_file_uri(f) for f in files}


def test_delete_and_read_round_trip_under_special_char_path(
    spark, tmp_path
):
    """delete_from_delta + read_delta stay exact when the table root
    itself contains URI-hostile characters (a mismatch would be
    SILENT: resurrected rows or dropped files)."""
    from snapflow_spark.sources.delta import (
        delete_from_delta,
        read_delta,
        write_delta,
    )

    table = tmp_path / "we ird%2F+;dir" / "t"
    rows = [(i, "en" if i % 2 else "de") for i in range(100)]
    write_delta(
        spark.createDataFrame(rows, "id long, lang string"),
        table,
        partition_by=["lang"],
    )
    assert delete_from_delta(spark, table, "id < 30") == 30
    got = read_delta(spark, table)
    assert got.count() == 70
    assert got.where("id < 30").count() == 0
    # partitioned read keeps every file (mapping join key intact)
    assert got.where("lang = 'en'").count() == 35


def test_merge_schema_preserves_table_nullability_and_metadata(
    spark, tmp_path
):
    """A merge_schema append whose prefix fields are NON-nullable (or
    lack field metadata) must not tighten the committed table schema:
    existing columns come from the table schema verbatim, new ones
    are forced nullable."""
    import json as _json

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from snapflow_spark.sources.delta import delta_snapshot, write_delta

    path = tmp_path / "t"
    s1 = StructType(
        [
            StructField("id", LongType(), True, {"comment": "doc id"}),
            StructField("name", StringType(), True),
        ]
    )
    write_delta(spark.createDataFrame([(1, "a")], s1), path)
    s2 = StructType(
        [
            StructField("id", LongType(), False),
            StructField("name", StringType(), False),
            StructField("extra", DoubleType(), False),
        ]
    )
    write_delta(
        spark.createDataFrame([(2, "b", 1.5)], s2),
        path,
        mode="append",
        merge_schema=True,
    )
    snap = delta_snapshot(spark, path)
    fields = _json.loads(snap.metadata["schemaString"])["fields"]
    assert [f["name"] for f in fields] == ["id", "name", "extra"]
    assert all(f["nullable"] for f in fields)
    assert fields[0]["metadata"] == {"comment": "doc id"}


def test_cdf_on_column_mapped_table(spark, tmp_path):
    """read_delta_cdf on a mode=name table (round 15): the
    synthesized tier renames physical parquet columns to logical
    names, and cdc change files (physical names + bare _change_type)
    read back logical too."""
    import shutil

    from snapflow_spark.sources.delta import read_delta_cdf

    table = tmp_path / "cm"
    _column_mapped_table(spark, table)
    phys = {"doc_id": "col-aaaa", "text": "col-bbbb", "lang": "col-cccc"}

    def changes(df):
        return {
            (r.doc_id, r.text, r.lang, r._change_type, r._commit_version)
            for r in df.collect()
        }

    # synthesized tier: the v0 adds are inserts, logical-named
    assert changes(read_delta_cdf(spark, table, 0, 0)) == {
        (0, "a", "en", "insert", 0),
        (1, "b", "en", "insert", 0),
        (2, "c", "de", "insert", 0),
    }

    # cdc tier: an external writer lands a physical-named change file
    cd = table / "_change_data"
    cd.mkdir()
    cdc_df = spark.createDataFrame(
        [(0, "a", "update_preimage"), (0, "A", "update_postimage")],
        f"`{phys['doc_id']}` bigint, `{phys['text']}` string, "
        "_change_type string",
    ).coalesce(1)
    tmp = str(cd / "chg.parquet.tmp")
    cdc_df.write.mode("overwrite").parquet(tmp)
    target = cd / "chg.parquet"
    next(Path(tmp).glob("*.parquet")).rename(target)
    shutil.rmtree(tmp)
    (table / "_delta_log" / f"{1:020d}.json").write_text(
        json.dumps(
            {
                "cdc": {
                    "path": "_change_data/chg.parquet",
                    "partitionValues": {phys["lang"]: "en"},
                    "size": target.stat().st_size,
                    "dataChange": False,
                }
            }
        )
        + "\n"
    )
    assert changes(read_delta_cdf(spark, table, 1, 1)) == {
        (0, "a", "en", "update_preimage", 1),
        (0, "A", "en", "update_postimage", 1),
    }


def test_v2_checkpoint_write_and_seed(spark, tmp_path):
    """write_delta_checkpoint(v2=True) (round 15): the UUID-named top
    file carries only handle rows + a sidecar pointer, file actions
    (DV descriptors included) live under _delta_log/_sidecars/, and a
    log-cleaned table seeds losslessly — txn marks included."""
    from snapflow_spark.sources.delta import (
        delete_from_delta,
        delta_snapshot,
    )

    path = tmp_path / "tbl"
    write_delta(_df(spark, ROWS_V0), path, partition_by=["lang"])
    write_delta(
        _df(spark, ROWS_V1), path, mode="append", txn=("app", 3)
    )
    n_dv = delete_from_delta(spark, path, "doc_id = 1")
    assert n_dv == 1
    cp_v = write_delta_checkpoint(spark, path, v2=True)
    assert cp_v == 2
    log = Path(path) / "_delta_log"
    tops = sorted(log.glob(f"{cp_v:020d}.checkpoint.*.parquet"))
    assert len(tops) == 1
    assert not (log / f"{cp_v:020d}.checkpoint.parquet").exists()
    sidecars = sorted((log / "_sidecars").glob("*.parquet"))
    assert sidecars
    top = spark.read.parquet(str(tops[0]))
    assert "sidecar" in top.columns and "add" not in top.columns
    assert "checkpointMetadata" in top.columns
    side = spark.read.parquet(*[str(p) for p in sidecars])
    assert "add" in side.columns

    want = {r for r in (set(ROWS_V0) | set(ROWS_V1)) if r[0] != 1}
    assert _rows(read_delta(spark, path)) == want
    # retention cleanup: drop every JSON commit <= checkpoint
    for v in (0, 1, 2):
        (log / f"{v:020d}.json").unlink()
    assert _rows(read_delta(spark, path)) == want  # v2 seed, DVs intact
    # the SetTransaction high-water mark survives the seed
    assert delta_snapshot(spark, path).txns["app"] == 3
    # commits after the checkpoint still replay on top of it
    write_delta(_df(spark, [(7, "eta", "en")]), path, mode="append")
    assert _rows(read_delta(spark, path)) == want | {(7, "eta", "en")}


def test_merge_and_update_on_column_mapped_table(spark, tmp_path):
    """Round 15: the full row-level write surface binds physical
    names on mode=name tables — update rewrites, merge upserts, and
    the staged files keep the physical layout."""
    from snapflow_spark.sources.delta import merge_delta, update_delta

    table = tmp_path / "cm"
    _column_mapped_table(spark, table)
    assert update_delta(spark, table, "doc_id = 2", {"text": "'C'"}) == 1
    assert _rows(read_delta(spark, table)) == {
        (0, "a", "en"), (1, "b", "en"), (2, "C", "de"),
    }
    res = merge_delta(
        spark,
        table,
        _df(spark, [(1, "B", "en"), (7, "g", "fr")]),
        on=["doc_id"],
    )
    assert res == {"rows_matched": 1, "rows_inserted": 1}
    assert _rows(read_delta(spark, table)) == {
        (0, "a", "en"), (1, "B", "en"), (2, "C", "de"), (7, "g", "fr"),
    }
    # logical partition filter still prunes the physical-keyed layout
    fr = read_delta(spark, table, partition_filter={"lang": "fr"})
    assert _rows(fr) == {(7, "g", "fr")}


def test_yaml_merge_and_upsert_builtins(spark, tmp_path):
    """core.merge_delta / core.upsert_iceberg (round 15): a changelog
    node upserts into standing tables through the YAML surface and
    table reads see the post-merge state.  Both nodes are table
    sinks: they return None, so their own stores stay empty."""
    from snapflow_spark.plans import load_graph
    from snapflow_spark.sources.iceberg import read_iceberg, write_iceberg

    dt = tmp_path / "dt"
    it = tmp_path / "it"
    base = _df(spark, [(0, "a", "en"), (1, "b", "en")])
    write_delta(base, dt)
    write_iceberg(base, it)
    changelog = _df(spark, [(1, "B", "en"), (7, "g", "fr")])
    cfg = {
        "warehouse": str(tmp_path / "wh"),
        "sources": ["changes"],
        "nodes": [
            {
                "name": "merged",
                "function": "core.merge_delta",
                "upstream": {"input": "changes"},
                "params": {"path": str(dt), "keys": ["doc_id"]},
                "overwrite": True,
            },
            {
                "name": "upserted",
                "function": "core.upsert_iceberg",
                "upstream": {"input": "changes"},
                "params": {"path": str(it), "keys": ["doc_id"]},
                "overwrite": True,
            },
        ],
    }
    g = load_graph(cfg)
    g.pipeline.sources["changes"].append(changelog)
    assert g.produce(spark) == 2
    want = {(0, "a", "en"), (1, "B", "en"), (7, "g", "fr")}
    assert _rows(read_delta(spark, dt)) == want
    assert _rows(read_iceberg(spark, it)) == want
    assert g.read(spark, "merged") is None
    assert g.read(spark, "upserted") is None


def test_optimize_on_column_mapped_table(spark, tmp_path):
    """Round 15: OPTIMIZE rewrites a mode=name table through the
    physical binding — DVs materialize, content identical, staged
    files keep physical column names."""
    import pyarrow.parquet as pq

    from snapflow_spark.sources.delta import (
        delete_from_delta,
        optimize_delta,
    )

    table = tmp_path / "cm"
    _column_mapped_table(spark, table)
    assert delete_from_delta(spark, table, "doc_id = 0") == 1
    res = optimize_delta(spark, table)
    assert res["files_removed"] >= 1 and res["files_added"] >= 1
    got = read_delta(spark, table)
    assert _rows(got) == {(1, "b", "en"), (2, "c", "de")}
    for f in got.inputFiles():
        cols = set(
            pq.ParquetFile(f.removeprefix("file:")).schema_arrow.names
        )
        assert cols == {"col-aaaa", "col-bbbb"}


def test_describe_history_and_log_cleanup(spark, tmp_path):
    """describe_delta_history (round 15): one row per commit with
    operation + action counts; clean_delta_log removes only commits
    covered by a checkpoint AND older than retention — the current
    state always survives."""
    from snapflow_spark.sources.delta import (
        clean_delta_log,
        delete_from_delta,
        describe_delta_history,
        write_delta_checkpoint,
    )

    path = tmp_path / "t"
    write_delta(_df(spark, ROWS_V0), path, partition_by=["lang"])  # v0
    write_delta(_df(spark, ROWS_V1), path, mode="append")  # v1
    delete_from_delta(spark, path, "doc_id = 0")  # v2 (DV)
    h = {r.version: r for r in describe_delta_history(spark, path).collect()}
    assert set(h) == {0, 1, 2}
    assert h[0].operation == "WRITE" and h[0].num_added_files >= 1
    assert h[2].operation == "DELETE"
    # the matched file was fully dead: remove only (no DV re-add)
    assert h[2].num_removed_files == 1
    assert h[0].engine_info == "snapflow-spark"
    assert all(h[v].timestamp_ms > 0 for v in h)

    # no checkpoint: nothing is ever cleaned
    assert clean_delta_log(spark, path, retention_hours=0) == []
    cp = write_delta_checkpoint(spark, path)
    assert cp == 2
    # retention in the future keeps everything
    assert clean_delta_log(spark, path, retention_hours=1e6) == []
    gone = clean_delta_log(spark, path, retention_hours=0, dry_run=True)
    assert gone == [f"{v:020d}.json" for v in (0, 1, 2)]
    assert (path / "_delta_log" / f"{0:020d}.json").exists()  # dry run
    assert clean_delta_log(spark, path, retention_hours=0) == gone
    # the current state seeds from the checkpoint
    want = {r for r in set(ROWS_V0) | set(ROWS_V1) if r[0] != 0}
    assert _rows(read_delta(spark, path)) == want
    with pytest.raises(FileNotFoundError, match="history needs"):
        describe_delta_history(spark, path)


def test_merge_schema_on_column_mapped_table(spark, tmp_path):
    """Round 16 (r15 Missing #2): merge_schema=True EVOLVES a
    column-mapped table instead of refusing — the added column gets a
    fresh physicalName uuid and a columnMapping id past
    delta.columnMapping.maxColumnId, the widened metaData rides the
    same append commit, pre-evolution files null-fill, and the staged
    parquet carries the new column under its physical uuid."""
    import pyarrow.parquet as pq

    from snapflow_spark.sources.delta import delta_snapshot

    table = tmp_path / "cm"
    _column_mapped_table(spark, table)
    df = spark.createDataFrame(
        [(10, "zz", "fr", 0.5)],
        "doc_id long, text string, lang string, score double",
    )
    v = write_delta(df, table, mode="append", merge_schema=True)
    assert v == 1
    got = read_delta(spark, table)
    assert [f.name for f in got.schema.fields] == [
        "doc_id", "text", "lang", "score"
    ]
    rows = {(r.doc_id, r.text, r.lang, r.score) for r in got.collect()}
    # old files NULL-fill the evolved column
    assert rows == {
        (0, "a", "en", None), (1, "b", "en", None),
        (2, "c", "de", None), (10, "zz", "fr", 0.5),
    }
    # external-shape metadata, key by key
    snap = delta_snapshot(spark, table)
    fields = {f.name: f for f in snap.schema.fields}
    meta = fields["score"].metadata
    pn = meta["delta.columnMapping.physicalName"]
    assert pn.startswith("col-") and pn not in (
        "col-aaaa", "col-bbbb", "col-cccc"
    )
    assert int(meta["delta.columnMapping.id"]) == 4
    cfg = snap.metadata["configuration"]
    assert cfg["delta.columnMapping.maxColumnId"] == "4"
    assert cfg["delta.columnMapping.mode"] == "name"
    # every field still carries a physicalName (the mapped invariant)
    for f in snap.schema.fields:
        assert f.metadata.get("delta.columnMapping.physicalName")
    # the staged file's parquet columns are PHYSICAL names, the new
    # column's uuid included (logical names never hit disk)
    new_files = [
        table / rel for rel, _pv, _sz, _st in snap.files
        if rel not in ("part-en.parquet", "part-de.parquet")
    ]
    assert new_files
    for p in new_files:
        cols = set(pq.ParquetFile(p).schema_arrow.names)
        assert pn in cols and "score" not in cols
        assert not cols & {"doc_id", "text", "lang"}
    # a second evolution NEVER reuses ids
    df2 = spark.createDataFrame(
        [(11, "yy", "en", 1.5, 7)],
        "doc_id long, text string, lang string, score double, n int",
    )
    write_delta(df2, table, mode="append", merge_schema=True)
    snap2 = delta_snapshot(spark, table)
    f_n = {f.name: f for f in snap2.schema.fields}["n"].metadata
    assert int(f_n["delta.columnMapping.id"]) == 5
    assert snap2.metadata["configuration"][
        "delta.columnMapping.maxColumnId"
    ] == "5"
    assert read_delta(spark, table).count() == 5


def test_merge_schema_on_id_mapped_table(spark, tmp_path):
    """mode=id evolution: the added column additionally binds by a
    parquet FOOTER field id — the staged file stamps it, and the
    id-bound read resolves the new column next to legacy-named
    files."""
    import pyarrow.parquet as pq

    from snapflow_spark.sources.delta import delta_snapshot

    table = tmp_path / "cmid"
    _id_mapped_table(spark, table)
    df = spark.createDataFrame(
        [(10, "zz", "fr", 0.5)],
        "doc_id long, text string, lang string, score double",
    )
    write_delta(df, table, mode="append", merge_schema=True)
    got = read_delta(spark, table)
    rows = {(r.doc_id, r.text, r.lang, r.score) for r in got.collect()}
    assert rows == {
        (0, "a", "en", None), (1, "b", "en", None),
        (2, "c", "de", None), (10, "zz", "fr", 0.5),
    }
    snap = delta_snapshot(spark, table)
    meta = {f.name: f for f in snap.schema.fields}["score"].metadata
    new_id = int(meta["delta.columnMapping.id"])
    assert new_id == 4
    # the staged parquet footer carries the binding field id
    new_files = [
        table / rel for rel, _pv, _sz, _st in snap.files
        if not rel.startswith("part-")
    ]
    assert new_files
    for p in new_files:
        sch = pq.ParquetFile(p).schema_arrow
        f = sch.field(meta["delta.columnMapping.physicalName"])
        assert f.metadata[b"PARQUET:field_id"] == str(new_id).encode()
