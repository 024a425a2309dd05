"""Structured Streaming semantics tests (SURVEY.md §5.2(3)):
- a bounded stream over snapshot dirs produces the same result as the
  batch run of the same expression
- watermarking drops exactly the too-late rows (FIXTURES.md late_events)
"""

from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from snapflow_spark.incremental import SnapshotStore
from snapflow_spark.streaming import (
    run_stream_to_batch,
    stream_from_snapshots,
    streaming_dedupe,
    tumbling_agg,
)

EV_SCHEMA = "event_id bigint, ts timestamp, user_id bigint, value double"

T0 = datetime(2024, 1, 1, 0, 0, 0)


def _mk_events(spark, rows):
    return spark.createDataFrame(
        [(i, T0 + timedelta(minutes=m), u, v) for (i, m, u, v) in rows], EV_SCHEMA
    )


def test_stream_equals_batch_tumbling(spark, tmp_path):
    store = SnapshotStore(tmp_path / "events")
    chunk1 = _mk_events(spark, [(1, 0, 1, 1.0), (2, 30, 1, 2.0), (3, 70, 2, 3.0)])
    chunk2 = _mk_events(spark, [(4, 90, 2, 4.0), (5, 130, 1, 5.0)])
    store.append(chunk1)
    store.append(chunk2)

    batch = store.read(spark)
    batch_out = {
        (r.window_start, r.n) for r in tumbling_agg(
            batch, "ts", "1 hour", [F.count(F.lit(1)).alias("n")]
        ).collect()
    }

    stream = stream_from_snapshots(spark, str(store.path), batch.schema)
    stream_agg = tumbling_agg(
        stream.withWatermark("ts", "0 seconds"), "ts", "1 hour",
        [F.count(F.lit(1)).alias("n")],
    )
    result = run_stream_to_batch(
        stream_agg, output_mode="complete", checkpoint=str(tmp_path / "ckpt")
    )
    stream_out = {(r.window_start, r.n) for r in result.collect()}
    assert stream_out == batch_out
    assert sum(n for _, n in stream_out) == 5


def test_bounded_runs_remove_the_checkpoint_they_create(spark, tmp_path):
    """Without ``checkpoint=`` a bounded run makes its own ckpt_* dir
    and removes it once the query has terminated; the results (memory
    sink, landed snapshot) stay readable."""
    import tempfile
    from pathlib import Path

    from snapflow_spark.streaming.runner import stream_to_snapshots

    def ckpts():
        return set(Path(tempfile.gettempdir()).glob("ckpt_*"))

    store = SnapshotStore(tmp_path / "events")
    store.append(_mk_events(spark, [(1, 0, 1, 1.0), (2, 30, 1, 2.0)]))
    before = ckpts()
    out = run_stream_to_batch(stream_from_snapshots(spark, str(store.path), EV_SCHEMA))
    landed = SnapshotStore(tmp_path / "landed")
    stream_to_snapshots(stream_from_snapshots(spark, str(store.path), EV_SCHEMA), landed)
    assert ckpts() - before == set()
    assert sorted(r.event_id for r in out.collect()) == [1, 2]
    assert sorted(r.event_id for r in landed.read(spark).collect()) == [1, 2]


def test_streaming_dedupe_is_exactly_once_within_horizon(spark, tmp_path):
    """Streaming dedupe drops duplicate keys across micro-batches while
    their state lives; the watermark bounds the state, not the input
    (verified semantics on Spark 4.1 — late NEW keys still pass)."""
    store = SnapshotStore(tmp_path / "late")
    store.append(_mk_events(spark, [(1, 0, 1, 1.0), (2, 120, 1, 2.0)]).coalesce(1))
    # second batch: a duplicate key (2), a late new key (3), a fresh key (4)
    store.append(
        _mk_events(spark, [(2, 121, 1, 9.9), (3, 0, 1, 3.0), (4, 130, 1, 4.0)]).coalesce(1)
    )

    stream = stream_from_snapshots(
        spark,
        str(store.path),
        "event_id bigint, ts timestamp, user_id bigint, value double",
        max_files_per_trigger=1,
    )
    deduped = streaming_dedupe(stream, keys=["event_id"], ts="ts", watermark="1 hour")
    result = run_stream_to_batch(deduped, checkpoint=str(tmp_path / "ckpt2"))
    rows = {r.event_id: r.value for r in result.collect()}
    assert sorted(rows) == [1, 2, 3, 4]
    assert rows[2] == 2.0  # the batch-1 original won; duplicate 9.9 dropped


def test_watermark_drops_late_rows_in_windowed_agg(spark, tmp_path):
    """FIXTURES.md late_events: with a 1h watermark, a row arriving 2h
    late falls into a window the watermark already closed -> dropped
    from the append-mode output; without a watermark it is counted."""
    store = SnapshotStore(tmp_path / "late_agg")
    # batch-1 max ts 02:30 -> watermark 01:30, strictly past the hour-0
    # window's end. Verified on Spark 4.1: a batch-N watermark governs
    # input filtering from batch N+2, so a "carrier" batch sits between
    # the watermark-advancing batch and the late arrival.
    store.append(_mk_events(spark, [(1, 0, 1, 1.0), (2, 150, 1, 2.0)]).coalesce(1))
    store.append(_mk_events(spark, [(5, 160, 1, 5.0)]).coalesce(1))
    store.append(_mk_events(spark, [(3, 1, 1, 3.0), (4, 240, 1, 4.0)]).coalesce(1))
    schema = "event_id bigint, ts timestamp, user_id bigint, value double"

    stream = stream_from_snapshots(spark, str(store.path), schema, max_files_per_trigger=1)
    agg = tumbling_agg(
        stream.withWatermark("ts", "1 hour"), "ts", "1 hour",
        [F.count(F.lit(1)).alias("n")],
    )
    result = run_stream_to_batch(agg, checkpoint=str(tmp_path / "ckpt4"))
    counts = {r.window_start: r.n for r in result.collect()}
    # hour-0 window closed when watermark hit 01:00 after batch 1 with
    # count 1; the late row (ts=00:01) in batch 2 must not reopen it.
    assert counts[T0] == 1

    batch = store.read(spark)
    batch_counts = {
        r.window_start: r.n
        for r in tumbling_agg(batch, "ts", "1 hour", [F.count(F.lit(1)).alias("n")]).collect()
    }
    assert batch_counts[T0] == 2  # without watermark the late row counts


def test_stream_without_watermark_keeps_late_rows(spark, tmp_path):
    store = SnapshotStore(tmp_path / "nolate")
    store.append(_mk_events(spark, [(1, 0, 1, 1.0), (2, 120, 1, 2.0)]))
    store.append(_mk_events(spark, [(3, 0, 1, 3.0)]))
    stream = stream_from_snapshots(
        spark, str(store.path), "event_id bigint, ts timestamp, user_id bigint, value double"
    )
    result = run_stream_to_batch(stream, checkpoint=str(tmp_path / "ckpt3"))
    assert sorted(r.event_id for r in result.collect()) == [1, 2, 3]


def test_stateful_running_stats_across_microbatches(spark, tmp_path):
    """applyInPandasWithState: per-user state survives micro-batches —
    the final emitted row per user equals a batch-computed EWMA."""
    from snapflow_spark.streaming.stateful import running_user_stats

    store = SnapshotStore(tmp_path / "sev")
    store.append(_mk_events(spark, [(1, 0, 1, 10.0), (2, 5, 1, 20.0), (3, 7, 2, 5.0)]))
    store.append(_mk_events(spark, [(4, 10, 1, 30.0), (5, 12, 2, 7.0)]))

    stream = stream_from_snapshots(
        spark, str(store.path), EV_SCHEMA, max_files_per_trigger=1
    )
    out = run_stream_to_batch(
        running_user_stats(stream, alpha=0.5), output_mode="update"
    )
    # one emission per user per micro-batch it appeared in; the LAST
    # emission per user carries the full running state
    final = {
        r.user_id: r
        for r in out.orderBy("n_events").collect()  # ascending: last wins
    }
    assert final[1].n_events == 3 and final[1].total == 60.0
    # ewma over [10,20,30] with alpha .5: 10 -> 15 -> 22.5 (order-dependent!)
    assert abs(final[1].ewma - 22.5) < 1e-9
    assert final[2].n_events == 2 and final[2].total == 12.0
    assert abs(final[2].ewma - (0.5 * 7 + 0.5 * 5)) < 1e-9


def test_stream_to_snapshots_feeds_batch_pipeline(spark, tmp_path):
    """The stream/batch unification loop: streaming micro-batches land
    as ledgerable snapshots; a batch Pipeline node consumes them
    incrementally; restarting the stream processes only new files."""
    from snapflow_spark.incremental import Node, Pipeline
    from snapflow_spark.streaming import stream_from_snapshots, stream_to_snapshots

    raw = SnapshotStore(tmp_path / "raw")
    raw.append(_mk_events(spark, [(1, 0, 1, 1.0), (2, 5, 2, 2.0)]))

    landed = SnapshotStore(tmp_path / "landed")
    ckpt = str(tmp_path / "ckpt")
    stream = stream_from_snapshots(spark, str(raw.path), EV_SCHEMA)
    enriched = stream.withColumn("value2", F.col("value") * 2)
    stream_to_snapshots(enriched, landed, checkpoint=ckpt)
    assert landed.read(spark).count() == 2

    p = Pipeline(str(tmp_path / "wh"))
    p.sources["landed"] = landed
    p.add_node(
        Node("sink", lambda spark, input: input.select("event_id", "value2"),
             {"input": ("landed", "consumable")})
    )
    assert p.produce(spark) == 1
    assert p.store("sink").read(spark).count() == 2

    # more stream data -> only the new file becomes a new snapshot
    raw.append(_mk_events(spark, [(3, 10, 1, 5.0)]))
    stream2 = stream_from_snapshots(spark, str(raw.path), EV_SCHEMA)
    stream_to_snapshots(stream2.withColumn("value2", F.col("value") * 2), landed, checkpoint=ckpt)
    assert landed.read(spark).count() == 3
    assert p.produce(spark) == 1  # only the delta flows on
    assert p.store("sink").read(spark).count() == 3


def test_snapshot_store_ignores_uncommitted_dirs(spark, tmp_path):
    """A snapshot dir without Spark's _SUCCESS commit marker (e.g. an
    epoch still being written by a live stream) must be invisible to
    snapshot_ids()/read() — otherwise a concurrent batch tick could
    consume a partial snapshot and mark it done."""
    store = SnapshotStore(tmp_path / "atomic")
    store.append(spark.createDataFrame([(1,)], "v int"))
    partial = store.path / "snapshot-000001"
    partial.mkdir()
    (partial / "part-00000.parquet").write_bytes(b"not yet committed")
    assert store.snapshot_ids() == ["snapshot-000000"]
    assert store.read(spark).count() == 1


def test_transform_with_state_matches_apply_in_pandas_with_state(spark, tmp_path):
    """Spark 4 transformWithStateInPandas form of the running-stats op
    produces the same final per-key state as the
    applyInPandasWithState form over the same micro-batches. Skipped
    where Spark's TWS state-server protocol deps (protobuf) are
    absent — running_user_stats_tws raises a clear ImportError there
    (asserted below), and the parity assertion runs everywhere else."""
    import pytest as _pytest

    from snapflow_spark.streaming.stateful import (
        running_user_stats,
        running_user_stats_tws,
    )

    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError:
        with _pytest.raises(ImportError, match="protobuf"):
            running_user_stats_tws(_mk_events(spark, [(1, 0, 1, 1.0)]))
        _pytest.skip("google.protobuf not in this environment (TWS state server)")

    store = SnapshotStore(tmp_path / "tws")
    store.append(_mk_events(spark, [(1, 0, 1, 10.0), (2, 5, 1, 20.0), (3, 7, 2, 5.0)]))
    store.append(_mk_events(spark, [(4, 10, 1, 30.0), (5, 12, 2, 7.0)]))

    def final_states(op, ckpt):
        stream = stream_from_snapshots(
            spark, str(store.path), EV_SCHEMA, max_files_per_trigger=1
        )
        out = run_stream_to_batch(
            op(stream, alpha=0.5),
            output_mode="update",
            checkpoint=str(tmp_path / ckpt),
        )
        return {
            r.user_id: (r.n_events, r.total, round(r.ewma, 9))
            for r in out.orderBy("n_events").collect()
        }

    a = final_states(running_user_stats, "ck_a")
    b = final_states(running_user_stats_tws, "ck_b")
    assert a == b
    assert a[1] == (3, 60.0, 22.5)


def test_live_stream_concurrent_writer_and_batch_ticks(spark, tmp_path):
    """The genuinely-live shape (not availableNow): a continuous
    stream (maxFilesPerTrigger=1, so appends arrive as separate
    epochs) lands micro-batches into a SnapshotStore WHILE a writer
    thread keeps appending new raw snapshots AND a reader thread
    batch-ticks the landed store. At-least-once contract under
    concurrency: every written event_id eventually lands exactly once
    per snapshot epoch (distinct == written), and no concurrent batch
    read ever crashes or observes a partial snapshot (counts only
    move forward)."""
    import threading
    import time

    from snapflow_spark.streaming import stream_from_snapshots, stream_to_snapshots

    raw = SnapshotStore(tmp_path / "live_raw")
    landed = SnapshotStore(tmp_path / "live_landed")
    raw.append(_mk_events(spark, [(0, 0, 1, 0.0)]))

    stream = stream_from_snapshots(spark, str(raw.path), EV_SCHEMA, max_files_per_trigger=1)
    q = stream_to_snapshots(
        stream.withColumn("value2", F.col("value") * 2),
        landed,
        checkpoint=str(tmp_path / "live_ckpt"),
        available_now=False,
    )

    N_EXTRA = 6
    reader_errors: list[Exception] = []
    counts: list[int] = []
    stop_reading = threading.Event()

    def batch_ticker():
        # concurrent batch consumer: must never crash mid-swap and
        # must see monotonically nondecreasing committed state
        while not stop_reading.is_set():
            try:
                df = landed.read(spark)  # None while the store is empty
                counts.append(df.count() if df is not None else 0)
            except Exception as e:  # pragma: no cover - the failure we test for
                reader_errors.append(e)
                return
            time.sleep(0.05)

    def writer():
        for i in range(1, N_EXTRA + 1):
            raw.append(_mk_events(spark, [(i, i, 1, float(i))]))
            time.sleep(0.3)

    ticker = threading.Thread(target=batch_ticker, daemon=True)
    wthread = threading.Thread(target=writer, daemon=True)
    ticker.start()
    wthread.start()
    try:
        wthread.join(timeout=30)
        deadline = time.time() + 45
        want = set(range(N_EXTRA + 1))
        got: set[int] = set()
        while time.time() < deadline:
            df = landed.read(spark)
            got = (
                {r.event_id for r in df.select("event_id").collect()}
                if df is not None
                else set()
            )
            if got == want:
                break
            time.sleep(0.25)
    finally:
        q.stop()
        stop_reading.set()
        ticker.join(timeout=10)

    assert not reader_errors, reader_errors
    assert got == want  # every event landed
    # exactly one row per event in the committed view (epoch-idempotent
    # replays overwrite, never duplicate)
    assert landed.read(spark).count() == N_EXTRA + 1
    # concurrent reads only ever moved forward
    assert counts == sorted(counts)
    assert len(counts) >= 5, "ticker barely ran; not a concurrency test"


def test_snapshot_append_recovers_from_crashed_write(spark, tmp_path):
    """Commit protocol: a crashed append leaves only a dot-temp dir
    (reclaimed by the next writer); a committed-looking target owned
    by a CONCURRENT writer makes the rename fail loudly instead of
    destroying their output; compact shares the same protocol."""
    store = SnapshotStore(tmp_path / "crashed")
    store.append(spark.createDataFrame([(1,)], "v int"))
    # crashed earlier write of the next id -> temp leftover, reclaimed
    tmp = store.path / ".snapshot-000001.tmp"
    tmp.mkdir()
    (tmp / "part-0.parquet").write_bytes(b"partial")
    sid = store.append(spark.createDataFrame([(2,)], "v int"))
    assert sid == "snapshot-000001"
    assert store.snapshot_ids() == ["snapshot-000000", "snapshot-000001"]
    assert store.read(spark).count() == 2
    # a concurrent writer's already-renamed dir: fail loudly, not rmtree
    squatter = store.path / "snapshot-000002"
    squatter.mkdir()
    (squatter / "part-0.parquet").write_bytes(b"other writer")
    with pytest.raises(OSError):
        store.append(spark.createDataFrame([(3,)], "v int"))
    assert (squatter / "part-0.parquet").read_bytes() == b"other writer"
    # the failed rename left its temp dir behind — exactly the crashed
    # state; compact shares the protocol, reclaims it, and proceeds
    import shutil

    shutil.rmtree(squatter)
    assert (store.path / ".snapshot-000002.tmp").exists()
    new_id, retired = store.compact(spark)
    assert new_id == "snapshot-000002" and retired == [
        "snapshot-000000", "snapshot-000001"
    ]
    assert store.read(spark).count() == 2


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """Watermarked stream-stream interval join (impressions x clicks):
    the streaming result equals the same interval_join run in batch
    mode, including matches whose two sides arrive in DIFFERENT
    micro-batches — the state-buffering contract."""
    from snapflow_spark.streaming import interval_join

    imps = SnapshotStore(tmp_path / "imps")
    clicks = SnapshotStore(tmp_path / "clicks")
    # u1 imp@0 matched by click@3; u1 imp@5 matched by click@12 (but
    # click@3 is before imp@5, outside [l.ts, l.ts+10m]); u2 imp@60
    # matched by click@61 which arrives two snapshots later.
    imps.append(_mk_events(spark, [(1, 0, 1, 10.0), (2, 5, 1, 20.0)]))
    imps.append(_mk_events(spark, [(3, 60, 2, 30.0)]))
    clicks.append(_mk_events(spark, [(101, 3, 1, 1.0)]))
    clicks.append(_mk_events(spark, [(102, 12, 1, 2.0)]))
    clicks.append(_mk_events(spark, [(103, 61, 2, 3.0)]))

    def join(left, right):
        return interval_join(
            left,
            right,
            on=["user_id"],
            left_ts="ts",
            right_ts="ts",
            watermark="2 hours",
            lower="0 seconds",
            upper="10 minutes",
            right_prefix="click_",
        ).select("event_id", "user_id", "click_event_id")

    batch_rows = {
        tuple(r) for r in join(imps.read(spark), clicks.read(spark)).collect()
    }
    assert batch_rows == {(1, 1, 101), (2, 1, 102), (3, 2, 103)}

    stream_joined = join(
        stream_from_snapshots(spark, str(imps.path), EV_SCHEMA, max_files_per_trigger=1),
        stream_from_snapshots(spark, str(clicks.path), EV_SCHEMA, max_files_per_trigger=1),
    )
    result = run_stream_to_batch(
        stream_joined, output_mode="append", checkpoint=str(tmp_path / "ssj_ckpt")
    )
    assert {tuple(r) for r in result.collect()} == batch_rows


def test_enrich_latest_respects_max_age_horizon(spark, tmp_path):
    """Stream-side dimension enrichment: facts only see dim versions
    published within max_age BEFORE them (bounded-state as-of)."""
    from snapflow_spark.streaming import enrich_latest

    facts = SnapshotStore(tmp_path / "facts")
    dim = SnapshotStore(tmp_path / "dim")
    facts.append(_mk_events(spark, [(1, 10, 1, 0.0), (2, 10, 2, 0.0)]))
    # u1 has a fresh version (8min, inside the 5min horizon of fact@10)
    # and a stale one (2min, outside); u2 only has a stale version.
    dim.append(_mk_events(spark, [(201, 2, 1, 1.0), (202, 8, 1, 2.0), (203, 1, 2, 9.0)]))

    out = enrich_latest(
        stream_from_snapshots(spark, str(facts.path), EV_SCHEMA),
        stream_from_snapshots(spark, str(dim.path), EV_SCHEMA),
        on=["user_id"],
        fact_ts="ts",
        dim_ts="ts",
        watermark="1 hour",
        max_age="5 minutes",
    ).select("event_id", "dim_event_id", "dim_value")
    result = run_stream_to_batch(
        out, output_mode="append", checkpoint=str(tmp_path / "enr_ckpt")
    )
    assert {tuple(r) for r in result.collect()} == {(1, 202, 2.0)}


def test_streaming_frequent_items_bounds_and_state(spark, tmp_path):
    """Streaming Misra-Gries: MG(k) summaries live in the state store
    partitioned by item-hash group; after a bounded multi-micro-batch
    run, every reported interval contains the exact count, planted
    heavies are guaranteed present, and the answer composes from each
    group's FINAL emission."""
    import collections

    from snapflow_spark.streaming.stateful import (
        final_frequent_intervals,
        streaming_frequent_items,
    )

    # zipf-ish: 3 heavies + a tail, split across two snapshots so
    # state must survive micro-batches
    items1 = ["hot1"] * 40 + ["hot2"] * 30 + [f"t{i}" for i in range(25)]
    items2 = ["hot1"] * 20 + ["hot3"] * 35 + [f"u{i}" for i in range(25)]
    store = SnapshotStore(tmp_path / "hh")
    for chunk in (items1, items2):
        store.append(
            spark.createDataFrame(
                [(i, v) for i, v in enumerate(chunk)], "i bigint, item string"
            )
        )

    stream = stream_from_snapshots(
        spark, str(store.path), "i bigint, item string", max_files_per_trigger=1
    )
    out = run_stream_to_batch(
        streaming_frequent_items(stream, "item", k=8, n_groups=4),
        output_mode="update",
        checkpoint=str(tmp_path / "hh_ck"),
    )
    intervals = final_frequent_intervals(out)
    true = collections.Counter(items1 + items2)
    got = {item: (lo, hi) for item, lo, hi in intervals}
    for item, (lo, hi) in got.items():
        assert lo <= true[item] <= hi, (item, lo, true[item], hi)
    # the heavies survive with exact-or-bounded estimates
    for h in ("hot1", "hot2", "hot3"):
        assert h in got
    assert got["hot1"][0] >= 40  # est is a lower bound; hot1 true = 60
    # top of the ranking is the true top
    assert intervals[0][0] == "hot1"


def test_map_only_curation_ops_run_on_streams(spark, tmp_path):
    """Composability (round 8): the map-only curation surfaces —
    trained-classifier scoring (broadcast weights), trained-tokenizer
    encode (broadcast pieces), quality signals, deterministic split —
    run UNCHANGED on a Structured Streaming source and match their
    batch outputs row-for-row. This is the 100 TB ingest shape:
    score/tokenize/split documents as they arrive, no batch rerun."""
    from snapflow_spark.functions.text import quality_score_expr
    from snapflow_spark.functions.unigram import train_unigram
    from snapflow_spark.operators.classifier import score_quality, train_from_predicate
    from snapflow_spark.operators.curation import split_by_hash
    from snapflow_spark.streaming import stream_from_snapshots

    store = SnapshotStore(tmp_path / "docs")
    rows = [
        (i, "en" if i % 2 else "de",
         f"document number {i} with some body text tokens " * (1 + i % 3))
        for i in range(30)
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, lang string, text string")
    store.append(docs)

    clf = train_from_predicate(docs, "lang = 'en'", num_buckets=256, iters=5)
    tok = train_unigram(docs, vocab_size=120, seed_size=400)

    def curate(df):
        scored = score_quality(df, clf, text_col="text")
        return split_by_hash(
            scored.withColumn("toks", tok.encode_col(spark, "text"))
            .withColumn("q", quality_score_expr("text")),
            test_frac=0.2,
        ).select(
            "doc_id", "split", F.round("quality_prob", 6).alias("p"),
            F.size("toks").alias("n_toks"), "q",
        )

    batch_out = {tuple(r) for r in curate(store.read(spark)).collect()}
    stream = stream_from_snapshots(spark, str(store.path), docs.schema)
    got = run_stream_to_batch(
        curate(stream), output_mode="append",
        checkpoint=str(tmp_path / "ckpt_curate"),
    )
    assert {tuple(r) for r in got.collect()} == batch_out
    assert len(batch_out) == 30


def test_gopher_and_langid_run_on_streams(spark, tmp_path):
    """Round 9: the new map-only gates — the full Gopher battery
    (sorted per-doc folds, zero shuffles) and trained lang-id scoring
    (one fused Arrow pass) — run UNCHANGED on a Structured Streaming
    source and match their batch outputs row-for-row. Together with
    the round-8 curation test this closes the streaming ingest gate:
    language-route, rule-filter, score, tokenize, split — all as
    documents arrive."""
    from snapflow_spark.operators.gopher import gopher_pass_expr, gopher_signals
    from snapflow_spark.operators.langid import predict_lang, train_lang_id

    store = SnapshotStore(tmp_path / "gl_docs")
    vocab = {
        "en": "the and with house water light great people from".split(),
        "de": "der und nicht haus wasser licht straße über schön".split(),
    }
    import random as _random

    rows = []
    for i in range(24):
        lang = "en" if i % 2 else "de"
        rng = _random.Random(i)
        rows.append((i, lang, " ".join(rng.choices(vocab[lang], k=60))))
    docs = spark.createDataFrame(rows, "doc_id bigint, lang string, text string")
    store.append(docs)

    model = train_lang_id(docs, iters=12)

    def gate(df):
        sig = gopher_signals(df.drop("lang"))
        routed = predict_lang(
            sig.withColumn("gopher_ok", gopher_pass_expr({"min_words": 10})),
            model,
            threshold=0.5,
        )
        return routed.select(
            "doc_id", "gopher_ok", "lang_pred",
            F.round("lang_prob", 6).alias("p"),
            F.round("dup5_char_frac", 6).alias("d5"),
            "stop_hits",
        )

    batch_out = {tuple(r) for r in gate(store.read(spark)).collect()}
    stream = stream_from_snapshots(spark, str(store.path), docs.schema)
    got = run_stream_to_batch(
        gate(stream), output_mode="append",
        checkpoint=str(tmp_path / "ckpt_gl"),
    )
    assert {tuple(r) for r in got.collect()} == batch_out
    assert len(batch_out) == 24
    # sanity: predictions are real, not all-und
    assert sum(1 for r in batch_out if r[2] in ("en", "de")) == 24


def test_profile_partials_accumulate_on_streams(spark, tmp_path):
    """Round 9: the corpus data card's sketch aggregation (KLL + HLL +
    additive counters) runs as a Structured Streaming aggregation in
    complete mode — the live-dashboard shape: partials update as
    snapshots arrive, and the final streamed card matches the batch
    card over the same corpus (counters exactly; KLL quantiles within
    sketch tolerance, same rank guarantee either way)."""
    from snapflow_spark.operators.profile import (
        corpus_profile,
        profile_partials,
        profile_report,
    )

    store = SnapshotStore(tmp_path / "docs")
    rows = [
        (i, f"streaming corpus doc {i % 7} body tokens " * (1 + i % 5))
        for i in range(40)
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    # two ingest batches, as a crawl would deliver them
    store.append(docs.where("doc_id < 25"))
    store.append(docs.where("doc_id >= 25"))

    stream = stream_from_snapshots(spark, str(store.path), docs.schema)
    streamed = run_stream_to_batch(
        profile_partials(stream, "text"),
        output_mode="complete",
        checkpoint=str(tmp_path / "ckpt_profile"),
    )
    card = profile_report(streamed).collect()[0]
    batch = corpus_profile(docs).collect()[0]
    m, o = card.asDict(), batch.asDict()
    assert set(m) == set(o)
    for k in m:
        if k.startswith(("tokens_p", "chars_p")):
            assert m[k] == pytest.approx(o[k], rel=0.06), k
        else:
            assert m[k] == o[k], k


def test_kn_scoring_and_model_embedding_run_on_streams(spark, tmp_path):
    """Round 11: the two new map-only surfaces — trained Kneser-Ney
    perplexity scoring (broadcast model, one Arrow pass) and the
    model-embedding hook (mapInArrow) — run UNCHANGED on a Structured
    Streaming source and match their batch outputs row-for-row: the
    CCNet-gate-and-embed ingest shape as documents arrive."""
    from snapflow_spark.functions.embed import embed_with_model
    from snapflow_spark.functions.kn_lm import train_kn_ngram
    from snapflow_spark.streaming import stream_from_snapshots

    store = SnapshotStore(tmp_path / "kn_docs")
    rows = [
        (i, f"document number {i} body text with tokens " * (1 + i % 3))
        for i in range(20)
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    store.append(docs)
    lm = train_kn_ngram(docs, order=3)

    def embedder():
        def embed_batch(texts):
            import hashlib

            import numpy as np

            out = np.zeros((len(texts), 4))
            for i, t in enumerate(texts):
                head = (t.split() or [""])[0]
                seed = int.from_bytes(
                    hashlib.sha256(head.encode()).digest()[:4], "big"
                )
                out[i] = np.random.default_rng(seed).normal(size=4)
            return out

        return embed_batch

    model = embedder()

    # scored and embedded streams are checked separately (a
    # stream-stream join would need watermarks and is not the claim)
    batch_ce = {tuple(r) for r in lm.score(store.read(spark)).collect()}
    batch_e = {
        tuple(r)
        for r in embed_with_model(store.read(spark), model, dim=4)
        .select("doc_id", F.round(F.element_at("embedding", 1), 5))
        .collect()
    }
    stream = stream_from_snapshots(spark, str(store.path), docs.schema)
    got_ce = run_stream_to_batch(
        lm.score(stream), output_mode="append",
        checkpoint=str(tmp_path / "ckpt_kn"),
    )
    assert {tuple(r) for r in got_ce.collect()} == batch_ce
    stream2 = stream_from_snapshots(spark, str(store.path), docs.schema)
    got_e = run_stream_to_batch(
        embed_with_model(stream2, model, dim=4).select(
            "doc_id", F.round(F.element_at("embedding", 1), 5)
        ),
        output_mode="append",
        checkpoint=str(tmp_path / "ckpt_emb"),
    )
    assert {tuple(r) for r in got_e.collect()} == batch_e
    assert len(batch_ce) == 20 and len(batch_e) == 20
