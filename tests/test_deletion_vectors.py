"""Delta deletion vectors (sources/deletion_vectors.py + the
read_delta integration): the Z85 + portable-RoaringBitmapArray codec
pinned to the published byte layouts, every descriptor storage type
(inline / uuid sidecar / absolute path), DV replacement on re-add,
time travel around deletes, and the loud checkpoint/stream guards."""

from __future__ import annotations

import json
import uuid
import zlib
from pathlib import Path

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from snapflow_spark.sources.deletion_vectors import (
    decode_dv_data,
    deleted_row_indexes,
    encode_dv_data,
    inline_dv_descriptor,
    write_dv_file,
    z85_decode,
    z85_encode,
)

# ------------------------------------------------------ codec (no spark)


def test_z85_pinned_and_round_trip():
    # the ZeroMQ spec 32 reference vector: "HelloWorld"
    assert z85_encode(bytes([0x86, 0x4F, 0xD2, 0x6F, 0xB5, 0x59, 0xF7, 0x5B])) == "HelloWorld"
    assert z85_decode("HelloWorld") == bytes(
        [0x86, 0x4F, 0xD2, 0x6F, 0xB5, 0x59, 0xF7, 0x5B]
    )
    with pytest.raises(ValueError, match="multiple of 4"):
        z85_encode(b"abc")
    with pytest.raises(ValueError, match="multiple of 5"):
        z85_decode("abcd")
    with pytest.raises(ValueError, match="invalid character"):
        z85_decode('"""""')


def test_roaring_bytes_pinned_to_spec():
    """encode_dv_data({1,3,7}) byte-for-byte: magic + one bitmap with
    key 0 + no-run cookie + 1 array container + offset header."""
    data = encode_dv_data([1, 3, 7])
    want = (
        (1681511377).to_bytes(4, "little")  # RoaringBitmapArray magic
        + (1).to_bytes(8, "little")  # one 32-bit bitmap
        + (0).to_bytes(4, "little")  # its key (high 32 bits)
        + (12346).to_bytes(4, "little")  # SERIAL_COOKIE_NO_RUNCONTAINER
        + (1).to_bytes(4, "little")  # one container
        + (0).to_bytes(2, "little")  # container key
        + (2).to_bytes(2, "little")  # cardinality - 1
        + (16).to_bytes(4, "little")  # offset of container data
        + (1).to_bytes(2, "little")
        + (3).to_bytes(2, "little")
        + (7).to_bytes(2, "little")
    )
    assert data == want
    assert decode_dv_data(data) == [1, 3, 7]


def test_roaring_decode_run_containers():
    """The decoder also reads the SERIAL_COOKIE run-container form
    (real writers emit it; our encoder doesn't)."""
    n = 1  # one container, run flag set
    cookie = 12347 | ((n - 1) << 16)
    bitmap = (
        cookie.to_bytes(4, "little")
        + bytes([0b1])  # run flag bitset
        + (0).to_bytes(2, "little")  # key
        + (5).to_bytes(2, "little")  # cardinality-1 (6 values)
        # n < 4 -> no offset header with the run cookie
        + (2).to_bytes(2, "little")  # two runs
        + (10).to_bytes(2, "little") + (2).to_bytes(2, "little")  # 10..12
        + (20).to_bytes(2, "little") + (2).to_bytes(2, "little")  # 20..22
    )
    data = (
        (1681511377).to_bytes(4, "little")
        + (1).to_bytes(8, "little")
        + (0).to_bytes(4, "little")
        + bitmap
    )
    assert decode_dv_data(data) == [10, 11, 12, 20, 21, 22]


def test_roaring_bitset_and_high_keys():
    big = list(range(5000))  # > 4096 -> bitset container
    assert decode_dv_data(encode_dv_data(big)) == big
    spread = [0, 65536 + 3, (1 << 32) + 9]  # two 16-bit keys + 64-bit key
    assert decode_dv_data(encode_dv_data(spread)) == spread


@settings(max_examples=60, deadline=None)
@given(
    st.sets(
        st.integers(min_value=0, max_value=(1 << 33)), max_size=600
    )
)
def test_roaring_round_trip_fuzz(idx):
    assert decode_dv_data(encode_dv_data(idx)) == sorted(idx)


def test_descriptor_validation(tmp_path):
    desc = write_dv_file(tmp_path, [1, 2, 3])
    # uuid sidecar exists under the table root with the spec name
    u = uuid.UUID(bytes=z85_decode(desc["pathOrInlineDv"][-20:]))
    p = tmp_path / f"deletion_vector_{u}.bin"
    assert p.exists() and p.read_bytes()[0] == 1
    assert deleted_row_indexes(tmp_path, desc) == [1, 2, 3]
    # corrupt the payload: CRC catches it
    blob = bytearray(p.read_bytes())
    blob[8] ^= 0xFF
    p.write_bytes(bytes(blob))
    with pytest.raises(ValueError, match="CRC-32"):
        deleted_row_indexes(tmp_path, desc)
    # cardinality lie is caught
    good = write_dv_file(tmp_path, [5])
    good["cardinality"] = 2
    with pytest.raises(ValueError, match="cardinality"):
        deleted_row_indexes(tmp_path, good)
    with pytest.raises(NotImplementedError, match="storageType"):
        deleted_row_indexes(tmp_path, {"storageType": "x"})


# ---------------------------------------------------- read integration

ROWS = [(i, f"t{i}", "en" if i % 2 == 0 else "de") for i in range(10)]
SCHEMA = "doc_id bigint, text string, lang string"


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _rows(df):
    return {(r.doc_id, r.text, r.lang) for r in df.collect()}


def _external_dv_table(spark, table: Path, dv_of):
    """Hand-publish a Delta table (an EXTERNAL writer, not ours):
    one data file, reader protocol 3 + deletionVectors, and an add
    whose deletionVector comes from ``dv_of(table, indexes)``."""
    from snapflow_spark.sources.delta import write_delta

    # one data file (coalesce) so row indexes align with ROWS order
    write_delta(_df(spark, ROWS).coalesce(1), table)  # v0
    desc = dv_of(table, [1, 3, 7])
    log = table / "_delta_log"
    v0 = json.loads(
        [
            ln
            for ln in (log / f"{0:020d}.json").read_text().splitlines()
            if '"add"' in ln
        ][0]
    )["add"]
    actions = [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["deletionVectors"],
                      "writerFeatures": ["deletionVectors"]}},
        {"add": {**v0, "deletionVector": desc}},
    ]
    (log / f"{1:020d}.json").write_text(
        "\n".join(json.dumps(a) for a in actions) + "\n"
    )
    return desc


def test_read_delta_applies_uuid_sidecar_dv(spark, tmp_path):
    from snapflow_spark.sources.delta import read_delta

    table = tmp_path / "tbl"
    _external_dv_table(spark, table, lambda t, idx: write_dv_file(t, idx))
    got = read_delta(spark, table)
    live = {i for i in range(10) if i not in (1, 3, 7)}
    assert {r.doc_id for r in got.collect()} == live
    assert _rows(got) == {r for r in ROWS if r[0] in live}
    # time travel BEFORE the DV commit sees every row
    assert {r.doc_id for r in read_delta(spark, table, version=0).collect()} == set(range(10))


def test_read_delta_applies_inline_and_absolute_dv(spark, tmp_path):
    from snapflow_spark.sources.delta import read_delta

    t1 = tmp_path / "inline"
    _external_dv_table(spark, t1, lambda t, idx: inline_dv_descriptor(idx))
    assert {r.doc_id for r in read_delta(spark, t1).collect()} == {
        0, 2, 4, 5, 6, 8, 9
    }
    t2 = tmp_path / "abs"

    def absolute(t, idx):
        d = write_dv_file(t, idx)
        u = uuid.UUID(bytes=z85_decode(d["pathOrInlineDv"][-20:]))
        return {**d, "storageType": "p",
                "pathOrInlineDv": str(t / f"deletion_vector_{u}.bin")}

    _external_dv_table(spark, t2, absolute)
    assert {r.doc_id for r in read_delta(spark, t2).collect()} == {
        0, 2, 4, 5, 6, 8, 9
    }


def test_dv_replacement_and_remove(spark, tmp_path):
    """Re-adding a path replaces its DV (delta-spark's update shape);
    removing the path clears it; a remove+re-add WITHOUT a DV
    resurrects nothing it shouldn't."""
    from snapflow_spark.sources.delta import read_delta

    table = tmp_path / "tbl"
    _external_dv_table(spark, table, lambda t, idx: write_dv_file(t, idx))
    log = table / "_delta_log"
    v1 = [
        json.loads(ln)
        for ln in (log / f"{1:020d}.json").read_text().splitlines()
    ]
    add = next(a for a in v1 if "add" in a)["add"]
    # v2: same path, WIDER delete set
    wider = write_dv_file(table, [1, 3, 7, 9])
    (log / f"{2:020d}.json").write_text(
        json.dumps({"add": {**add, "deletionVector": wider}}) + "\n"
    )
    assert {r.doc_id for r in read_delta(spark, table).collect()} == {
        0, 2, 4, 5, 6, 8
    }
    # v3: re-add WITHOUT a DV -> all rows live again
    plain = {k: v for k, v in add.items() if k != "deletionVector"}
    (log / f"{3:020d}.json").write_text(
        json.dumps({"add": plain}) + "\n"
    )
    assert {r.doc_id for r in read_delta(spark, table).collect()} == set(
        range(10)
    )
    # and versioned reads still see each era
    assert {r.doc_id for r in read_delta(spark, table, version=2).collect()} == {
        0, 2, 4, 5, 6, 8
    }


def test_checkpoint_carries_dvs_and_stream_live_rows(spark, tmp_path):
    """Checkpoints CARRY deletion-vector descriptors (round 14): a
    reader seeded from the checkpoint after log cleanup applies the
    same deletes as the JSON replay.  The streaming source (round
    15) streams only the LIVE rows of a DV-carrying add — the
    re-add's already-streamed live rows repeat (delta-spark's
    documented ignoreChanges caveat) but DV-dead rows never enter
    the feed."""
    from collections import Counter

    from snapflow_spark.sources.delta import (
        DeltaStreamDataSource,
        read_delta,
        write_delta_checkpoint,
    )

    table = tmp_path / "tbl"
    _external_dv_table(spark, table, lambda t, idx: write_dv_file(t, idx))
    live = {0, 2, 4, 5, 6, 8, 9}
    # stream first (it replays the JSON history): v0 adds all 10
    # rows, the v1 DV-carrying re-add streams its 7 live rows only
    spark.dataSource.register(DeltaStreamDataSource)
    out = tmp_path / "out"
    q = (
        spark.readStream.format("delta_log")
        .option("path", str(table))
        .load()
        .writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    counts = Counter(
        r.doc_id for r in spark.read.parquet(str(out)).collect()
    )
    assert all(counts[d] == 2 for d in live)
    assert all(counts[d] == 1 for d in (1, 3, 7))
    cp_v = write_delta_checkpoint(spark, table)
    assert cp_v == 1
    # drop every JSON commit: the checkpoint must seed DVs too
    log = table / "_delta_log"
    for v in (0, 1):
        (log / f"{v:020d}.json").unlink()
    got = read_delta(spark, table)
    assert {r.doc_id for r in got.collect()} == live


@settings(max_examples=80, deadline=None)
@given(st.binary(min_size=0, max_size=64).filter(lambda b: len(b) % 4 == 0))
def test_z85_round_trip_fuzz(data):
    assert z85_decode(z85_encode(data)) == data


@settings(max_examples=30, deadline=None)
@given(
    st.sets(st.integers(min_value=0, max_value=100_000), max_size=200),
    st.sampled_from(["", "ab", "x/y"]),
)
def test_dv_descriptor_round_trip_fuzz(tmp_path_factory, idx, prefix):
    d = tmp_path_factory.mktemp("dvfuzz")
    desc = write_dv_file(d, idx, prefix=prefix)
    assert deleted_row_indexes(d, desc) == sorted(idx)
    assert deleted_row_indexes(d, inline_dv_descriptor(idx)) == sorted(idx)


def test_read_delta_plan_is_file_count_independent(spark, tmp_path):
    """The scan plan must contain exactly ONE parquet relation no
    matter how many partitions, files, or deletion vectors the
    snapshot holds — partition values attach via a broadcast mapping
    join and ALL DVs apply as one distributed anti-join (the 100 TB
    shape: plan size must not grow with the file count)."""
    from pyspark.sql import functions as F
    from snapflow_spark.sources.delta import read_delta, write_delta

    table = tmp_path / "tbl"
    df = spark.createDataFrame(
        [(i, f"t{i}", f"p{i % 5}") for i in range(50)],
        "doc_id bigint, text string, lang string",
    )
    write_delta(
        df.repartition(2, "doc_id"), table, partition_by=["lang"]
    )  # 5 partitions x up to 2 files each
    # DV two files in different partitions via an external-writer
    # commit: delete the first row of each chosen file
    log = table / "_delta_log"
    adds = [
        json.loads(ln)["add"]
        for ln in (log / f"{0:020d}.json").read_text().splitlines()
        if '"add"' in ln
    ]
    assert len(adds) >= 4, "fixture needs several files"
    actions = [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["deletionVectors"],
                      "writerFeatures": ["deletionVectors"]}},
    ]
    victims = [adds[0], adds[-1]]
    for a in victims:
        actions.append(
            {"add": {**a, "deletionVector": write_dv_file(table, [0])}}
        )
    (log / f"{1:020d}.json").write_text(
        "\n".join(json.dumps(a) for a in actions) + "\n"
    )

    got = read_delta(spark, table)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1, plan
    # correctness: exactly one row per DV'd file is gone
    assert got.count() == 50 - 2
    # and partition values survive the mapping join, typed
    assert got.where(F.col("lang") == "p3").count() in (9, 10)
    total = sum(
        got.where(F.col("lang") == f"p{i}").count() for i in range(5)
    )
    assert total == 48


def test_absolute_dv_path_uri_forms(tmp_path):
    """storageType 'p' descriptors in real logs carry file:// URIs,
    not bare paths — all slash-count forms resolve; remote schemes
    refuse loudly."""
    from snapflow_spark.sources.deletion_vectors import _absolute_dv_path

    p = tmp_path / "dv dir" / "v.bin"
    for uri in (
        str(p),
        f"file:{p}",
        f"file://{p}",
        f"file://localhost{p}",
        "file://" + str(p).replace(" ", "%20"),
    ):
        assert _absolute_dv_path(uri) == p, uri
    with pytest.raises(NotImplementedError, match="s3"):
        _absolute_dv_path("s3://bucket/dv.bin")
    with pytest.raises(NotImplementedError, match="authority"):
        _absolute_dv_path("file://nas01/dv.bin")


def test_read_delta_applies_file_uri_dv(spark, tmp_path):
    """End-to-end: a 'p' descriptor whose pathOrInlineDv is a
    file:/// URI (the protocol's recorded form) still applies."""
    from snapflow_spark.sources.delta import read_delta

    table = tmp_path / "tbl"

    def as_uri(t, idx):
        d = write_dv_file(t, idx)
        u = uuid.UUID(bytes=z85_decode(d["pathOrInlineDv"][-20:]))
        return {**d, "storageType": "p",
                "pathOrInlineDv": (t / f"deletion_vector_{u}.bin").as_uri()}

    _external_dv_table(spark, table, as_uri)
    assert {r.doc_id for r in read_delta(spark, table).collect()} == {
        0, 2, 4, 5, 6, 8, 9
    }


def _changes(df):
    return {
        (r.doc_id, r._change_type, r._commit_version)
        for r in df.collect()
    }


def test_cdf_over_dv_commits(spark, tmp_path):
    """read_delta_cdf synthesizes ROW-LEVEL changes from deletion
    vector commits: DV replacement emits only the DV delta (deletes
    for newly-deleted indexes, inserts for resurrected ones), a
    remove of a DV'd file deletes only its live rows, and the
    pre-range replay tracks DV state so starting mid-history never
    resurrects already-deleted rows."""
    from snapflow_spark.sources.delta import read_delta_cdf, write_delta

    table = tmp_path / "tbl"
    write_delta(_df(spark, ROWS).coalesce(1), table)  # v0: rows 0..9
    log = table / "_delta_log"
    add = json.loads(
        [
            ln
            for ln in (log / f"{0:020d}.json").read_text().splitlines()
            if '"add"' in ln
        ][0]
    )["add"]
    proto = {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                          "readerFeatures": ["deletionVectors"],
                          "writerFeatures": ["deletionVectors"]}}

    def dv_commit(v, idx, prev_desc):
        # delta's DELETE shape: remove(old state) + add(same path,
        # new DV), both dataChange
        old = dict(add)
        if prev_desc:
            old["deletionVector"] = prev_desc
        desc = write_dv_file(table, idx) if idx else None
        new = {k: v_ for k, v_ in add.items() if k != "deletionVector"}
        if desc:
            new["deletionVector"] = desc
        acts = [proto,
                {"remove": {"path": old["path"], "dataChange": True}},
                {"add": new}]
        (log / f"{v:020d}.json").write_text(
            "\n".join(json.dumps(a) for a in acts) + "\n"
        )
        return desc

    d1 = dv_commit(1, [1, 3, 7], None)        # delete rows 1,3,7
    d2 = dv_commit(2, [1, 3, 7, 9], d1)       # delete row 9
    d3 = dv_commit(3, [1, 3], d2)             # resurrect rows 7,9
    # v4: drop the file entirely
    (log / f"{4:020d}.json").write_text(
        json.dumps({"remove": {"path": add["path"], "dataChange": True}})
        + "\n"
    )

    assert _changes(read_delta_cdf(spark, table, 1, 1)) == {
        (1, "delete", 1), (3, "delete", 1), (7, "delete", 1)
    }
    assert _changes(read_delta_cdf(spark, table, 2, 2)) == {
        (9, "delete", 2)
    }
    assert _changes(read_delta_cdf(spark, table, 3, 3)) == {
        (7, "insert", 3), (9, "insert", 3)
    }
    # the v4 remove deletes ONLY live rows (DV [1,3] stays deleted) —
    # and the DV state came from the PRE-RANGE replay
    assert _changes(read_delta_cdf(spark, table, 4, 4)) == {
        (i, "delete", 4) for i in range(10) if i not in (1, 3)
    }
    # full range is coherent end-to-end
    full = _changes(read_delta_cdf(spark, table))
    assert {(i, "insert", 0) for i in range(10)} <= full
    assert len(full) == 10 + 3 + 1 + 2 + 8


def test_cdf_fresh_add_with_dv(spark, tmp_path):
    """A file FIRST added already carrying a DV inserts only its live
    rows."""
    from snapflow_spark.sources.delta import read_delta_cdf, write_delta

    table = tmp_path / "tbl"
    write_delta(_df(spark, ROWS).coalesce(1), table)  # v0
    log = table / "_delta_log"
    add = json.loads(
        [
            ln
            for ln in (log / f"{0:020d}.json").read_text().splitlines()
            if '"add"' in ln
        ][0]
    )["add"]
    # stage a second physical file with rows 100..104, added WITH a DV
    rows2 = [(100 + i, f"x{i}", "xx") for i in range(5)]
    stage = tmp_path / "stage"
    _df(spark, rows2).coalesce(1).write.parquet(str(stage))
    part = next(stage.glob("*.parquet"))
    dest = table / "new.parquet"
    part.rename(dest)
    desc = write_dv_file(table, [0, 2])  # kills doc_ids 100, 102
    acts = [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["deletionVectors"],
                      "writerFeatures": ["deletionVectors"]}},
        {"add": {"path": "new.parquet", "partitionValues": {},
                 "size": dest.stat().st_size, "dataChange": True,
                 "deletionVector": desc}},
    ]
    (log / f"{1:020d}.json").write_text(
        "\n".join(json.dumps(a) for a in acts) + "\n"
    )
    assert _changes(read_delta_cdf(spark, table, 1, 1)) == {
        (101, "insert", 1), (103, "insert", 1), (104, "insert", 1)
    }


def test_delete_from_delta_end_to_end(spark, tmp_path):
    """delete_from_delta: the modern DV delete shape end-to-end —
    matching rows vanish without rewriting data files, DVs merge
    across successive deletes, fully-dead files drop outright, the
    protocol upgrades, time travel still sees every era, and the CDF
    reports exactly the newly-deleted rows."""
    from snapflow_spark.sources.delta import (
        delete_from_delta,
        delta_snapshot,
        read_delta,
        read_delta_cdf,
        write_delta,
    )

    table = tmp_path / "tbl"
    rows = [(i, f"t{i}", "en" if i % 2 == 0 else "de") for i in range(10)]
    write_delta(
        _df(spark, rows).repartition(2, "doc_id"), table,
        partition_by=["lang"],
    )  # v0: 2 partitions x up to 2 files
    n_files_v0 = len(delta_snapshot(spark, table).files)

    # v1: predicate over data + partition columns
    n = delete_from_delta(
        spark, table, "doc_id >= 6 AND lang = 'en'"
    )
    assert n == 2  # doc_ids 6, 8
    live = {r[0] for r in rows} - {6, 8}
    assert {r.doc_id for r in read_delta(spark, table).collect()} == live
    # no data file was rewritten; files with no match untouched
    snap1 = delta_snapshot(spark, table)
    assert {rel for rel, *_ in snap1.files} <= {
        rel for rel, *_ in delta_snapshot(spark, table, version=0).files
    }
    assert snap1.protocol["minReaderVersion"] == 3
    assert "deletionVectors" in snap1.protocol["readerFeatures"]
    # v2: second delete MERGES into existing DVs
    assert delete_from_delta(spark, table, "doc_id = 0") == 1
    live -= {0}
    assert {r.doc_id for r in read_delta(spark, table).collect()} == live
    # already-deleted rows never re-count
    assert delete_from_delta(spark, table, "doc_id IN (0, 6, 8)") == 0
    # v3: kill an entire partition -> its files DROP, not 100%-dead DVs
    assert delete_from_delta(spark, table, "lang = 'de'") == 5
    snap3 = delta_snapshot(spark, table)
    assert {r.doc_id for r in read_delta(spark, table).collect()} == {2, 4}
    assert len(snap3.files) < n_files_v0
    assert all(pv.get("lang") == "en" for _r, pv, _s, _st in snap3.files)
    # time travel sees each era
    assert {r.doc_id for r in read_delta(spark, table, version=0).collect()} == set(range(10))
    assert {r.doc_id for r in read_delta(spark, table, version=1).collect()} == set(range(10)) - {6, 8}
    # CDF reports exactly the newly-deleted rows per commit
    assert _changes(read_delta_cdf(spark, table, 1, 1)) == {
        (6, "delete", 1), (8, "delete", 1)
    }
    assert _changes(read_delta_cdf(spark, table, 3, 3)) == {
        (i, "delete", 3) for i in (1, 3, 5, 7, 9)
    }
    # no-match delete commits nothing
    v_before = delta_snapshot(spark, table).version
    assert delete_from_delta(spark, table, "doc_id = 999") == 0
    assert delta_snapshot(spark, table).version == v_before


def test_delete_from_delta_pruned(spark, tmp_path):
    """partition_filter/min_max_filter prune the delete's scan to the
    files that can match (the targeted-delete 100 TB shape) while
    the predicate stays row-exact."""
    from snapflow_spark.sources.delta import (
        delete_from_delta,
        read_delta,
        write_delta,
    )

    table = tmp_path / "tbl"
    rows = [(i, f"t{i}", "en" if i < 5 else "de") for i in range(10)]
    write_delta(_df(spark, rows).coalesce(1), table, partition_by=["lang"])
    n = delete_from_delta(
        spark, table, "doc_id % 2 = 1", partition_filter={"lang": "en"}
    )
    assert n == 2  # 1, 3 (5..9 are de and excluded by the prune)
    assert {r.doc_id for r in read_delta(spark, table).collect()} == (
        set(range(10)) - {1, 3}
    )
    n2 = delete_from_delta(
        spark, table, "doc_id >= 0", min_max_filter={"doc_id": (7, 8)}
    )
    assert n2 == 5  # the de file (5..9) is the only one kept by stats
    with pytest.raises(ValueError, match="non-partition"):
        delete_from_delta(
            spark, table, "doc_id = 0", partition_filter={"text": "x"}
        )


def test_checkpoint_preserves_features_and_txns(spark, tmp_path):
    """The checkpoint carries the protocol's feature LISTS and the
    SetTransaction high-water marks — after log cleanup a replayed
    (appId, version) still skips (exactly-once survives compaction)
    and DV-feature tables still pass the protocol guard."""
    from snapflow_spark.sources.delta import (
        delete_from_delta,
        delta_snapshot,
        read_delta,
        write_delta,
        write_delta_checkpoint,
    )

    table = tmp_path / "tbl"
    write_delta(_df(spark, ROWS).coalesce(1), table,
                txn=("appX", 7))  # v0
    delete_from_delta(spark, table, "doc_id = 3")  # v1: DV + protocol 3
    cp_v = write_delta_checkpoint(spark, table)
    assert cp_v == 1
    log = table / "_delta_log"
    for v in (0, 1):
        (log / f"{v:020d}.json").unlink()
    snap = delta_snapshot(spark, table)
    assert snap.protocol["minReaderVersion"] == 3
    assert "deletionVectors" in snap.protocol["readerFeatures"]
    assert snap.txns == {"appX": 7}
    assert {r.doc_id for r in read_delta(spark, table).collect()} == (
        set(range(10)) - {3}
    )
    # an at-or-below replay still skips: the idempotence ledger is
    # the checkpoint now
    assert write_delta(
        _df(spark, [(99, "dup", "zz")]), table, txn=("appX", 7)
    ) is None


def test_vacuum_reclaims_replaced_dv_sidecars(spark, tmp_path):
    """vacuum_delta: sidecars of REPLACED DVs reclaim (aged past
    retention), the live DV sidecar always survives."""
    import os as _os

    from snapflow_spark.sources.delta import (
        delete_from_delta,
        delta_snapshot,
        read_delta,
        vacuum_delta,
        write_delta,
    )

    table = tmp_path / "tbl"
    write_delta(_df(spark, ROWS).coalesce(1), table)
    delete_from_delta(spark, table, "doc_id = 1")   # sidecar A
    delete_from_delta(spark, table, "doc_id = 5")   # sidecar B (A∪{5})
    sidecars = sorted(table.glob("deletion_vector_*.bin"))
    assert len(sidecars) == 2
    live_desc = next(iter(delta_snapshot(spark, table).dvs.values()))
    for p in sidecars:
        _os.utime(p, (1000, 1000))  # age everything out of retention
    gone = vacuum_delta(spark, table, retention_hours=0)
    # exactly one sidecar reclaimed, and not the live one
    reclaimed_bins = [g for g in gone if g.endswith(".bin")]
    assert len(reclaimed_bins) == 1
    left = sorted(table.glob("deletion_vector_*.bin"))
    assert len(left) == 1
    from snapflow_spark.sources.deletion_vectors import _dv_sidecar_path

    assert left[0] == _dv_sidecar_path(table, live_desc["pathOrInlineDv"])
    assert {r.doc_id for r in read_delta(spark, table).collect()} == (
        set(range(10)) - {1, 5}
    )


def test_update_delta_end_to_end(spark, tmp_path):
    """update_delta: matched rows die via DVs and their rewritten
    copies land in new files in ONE commit — including partition
    moves when the update touches a partition column; already-deleted
    rows never resurrect as updated copies; CDF shows the
    delete+insert pair."""
    from snapflow_spark.sources.delta import (
        delete_from_delta,
        delta_snapshot,
        read_delta,
        read_delta_cdf,
        update_delta,
        write_delta,
    )

    table = tmp_path / "tbl"
    write_delta(_df(spark, ROWS).coalesce(1), table, partition_by=["lang"])
    # prior delete: row 2 must NOT come back as an updated copy
    assert delete_from_delta(spark, table, "doc_id = 2") == 1
    n = update_delta(
        spark, table, "doc_id % 2 = 0",
        {"text": "concat(text, '!')"},
    )
    assert n == 4  # 0, 4, 6, 8 (2 already deleted)
    got = _rows(read_delta(spark, table))
    assert got == (
        {(i, f"t{i}!", "en") for i in (0, 4, 6, 8)}
        | {r for r in ROWS if r[0] % 2 == 1}
    )
    # exactly one commit for the update
    assert delta_snapshot(spark, table).version == 2
    # CDF: the update version shows deletes of old + inserts of new
    ch = {
        (r.doc_id, r.text, r._change_type)
        for r in read_delta_cdf(spark, table, 2, 2).collect()
    }
    assert ch == (
        {(i, f"t{i}", "delete") for i in (0, 4, 6, 8)}
        | {(i, f"t{i}!", "insert") for i in (0, 4, 6, 8)}
    )
    # partition-moving update: lang flips -> the row lands in the
    # other partition's files
    n2 = update_delta(
        spark, table, "doc_id = 1", {"lang": "'en'"}
    )
    assert n2 == 1
    snap = delta_snapshot(spark, table)
    moved = [
        rel for rel, pv, _s, _st in snap.files if pv.get("lang") == "en"
    ]
    assert any("lang=en" in rel for rel in moved)
    assert (1, "t1", "en") in _rows(read_delta(spark, table))
    # guards
    with pytest.raises(ValueError, match="unknown columns"):
        update_delta(spark, table, "doc_id = 0", {"nope": "'x'"})
    with pytest.raises(ValueError, match="empty set_"):
        update_delta(spark, table, "doc_id = 0", {})
    # no-match: no commit
    v = delta_snapshot(spark, table).version
    assert update_delta(spark, table, "doc_id = 999", {"text": "'x'"}) == 0
    assert delta_snapshot(spark, table).version == v


def test_cdf_write_side_cdc_actions(spark, tmp_path):
    """CDF WRITE side: on a table with delta.enableChangeDataFeed,
    delete_from_delta/update_delta emit cdc actions with _change_data
    parquet — and read_delta_cdf treats them as the authoritative
    change rows (delete; update_preimage/update_postimage)."""
    from snapflow_spark.sources.delta import (
        delete_from_delta,
        read_delta_cdf,
        update_delta,
        write_delta,
    )

    table = tmp_path / "tbl"
    write_delta(_df(spark, ROWS).coalesce(1), table, partition_by=["lang"])
    # flip the table property the way a writer would: new metaData
    log = table / "_delta_log"
    meta = json.loads(
        [
            ln
            for ln in (log / f"{0:020d}.json").read_text().splitlines()
            if '"metaData"' in ln
        ][0]
    )["metaData"]
    meta["configuration"] = {"delta.enableChangeDataFeed": "true"}
    (log / f"{1:020d}.json").write_text(
        json.dumps({"metaData": meta}) + "\n"
    )

    assert delete_from_delta(spark, table, "doc_id = 4") == 1  # v2
    assert (table / "_change_data").is_dir()
    ch = {
        (r.doc_id, r.text, r.lang, r._change_type)
        for r in read_delta_cdf(spark, table, 2, 2).collect()
    }
    assert ch == {(4, "t4", "en", "delete")}

    assert update_delta(
        spark, table, "doc_id = 3", {"text": "'T3'"}
    ) == 1  # v3
    ch3 = {
        (r.doc_id, r.text, r._change_type)
        for r in read_delta_cdf(spark, table, 3, 3).collect()
    }
    assert ch3 == {
        (3, "t3", "update_preimage"),
        (3, "T3", "update_postimage"),
    }
    # the synthesized tier is NOT used for these commits (cdc rows
    # are authoritative): no spurious full-file deletes/inserts
    assert len(read_delta_cdf(spark, table, 2, 3).collect()) == 3


# ------------------------------------- round 15: distributed DV writer


def test_dv_writer_driver_holds_only_descriptors(
    spark, tmp_path, monkeypatch
):
    """Round-15 contract: the DV build is EXECUTOR-side.  Every
    driver-side collect during a broad delete returns O(#files) rows
    (one descriptor row per touched file) — never the
    matched row indexes, at any delete breadth."""
    # Spark 4: the runtime class is the CLASSIC subclass, which
    # overrides collect — patch it, not the abstract base
    from pyspark.sql.classic.dataframe import DataFrame as _CDF

    from snapflow_spark.sources.delta import (
        delete_from_delta,
        read_delta,
        write_delta,
    )

    path = tmp_path / "t"
    n = 20_000
    df = spark.range(n).selectExpr(
        "id", "id % 7 AS k"
    ).repartition(4)
    write_delta(df, path)

    collected: list[int] = []
    orig = _CDF.collect

    def spy(self):
        rows = orig(self)
        collected.append(len(rows))
        return rows

    monkeypatch.setattr(_CDF, "collect", spy)
    # a BROAD delete: ~43% of the table (the shape that OOMed a
    # driver-side index collect at 100 TB)
    n_del = delete_from_delta(spark, path, "k < 3")
    monkeypatch.undo()

    expected = sum(1 for i in range(n) if i % 7 < 3)
    assert n_del == expected
    assert collected, "the delete never collected (plan changed?)"
    # 4 data files + slack: descriptor rows only
    assert max(collected) <= 8, (
        f"driver collected {max(collected)} rows during the delete — "
        "row indexes are materializing driver-side again"
    )
    got = read_delta(spark, path)
    assert got.count() == n - expected
    assert got.where("k < 3").count() == 0


def test_dv_writer_sidecars_written_executor_side(
    spark, tmp_path, monkeypatch
):
    """Poisoning the DRIVER's write_dv_file proves the sidecar
    encode runs in the Python workers (separate processes), not in
    the driver."""
    from snapflow_spark.sources import deletion_vectors as dvmod
    from snapflow_spark.sources.delta import (
        delete_from_delta,
        read_delta,
        write_delta,
    )

    path = tmp_path / "t"
    write_delta(
        spark.range(1000).selectExpr("id", "id % 5 AS k").coalesce(2),
        path,
    )

    def boom(*a, **k):  # pragma: no cover - must never run
        raise AssertionError(
            "write_dv_file ran in the DRIVER process"
        )

    monkeypatch.setattr(dvmod, "write_dv_file", boom)
    assert delete_from_delta(spark, path, "k = 2") == 200
    monkeypatch.undo()
    assert read_delta(spark, path).count() == 800
