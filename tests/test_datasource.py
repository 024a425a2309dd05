"""Spark 4 Python DataSource form of the paged-API connector
(sources/datasource.py): batch read, micro-batch streaming where
Spark's offset log IS the cursor checkpoint, and restart-resume.
"""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from snapflow_spark.sources import PagedApiDataSource

SCHEMA = "id bigint, v string"


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    spark.dataSource.register(PagedApiDataSource)


def test_batch_read_all_pages(spark):
    df = (
        spark.read.format("paged_api")
        .schema(SCHEMA)
        .options(pager="synthetic", pages="4", page_size="6")
        .load()
    )
    rows = df.orderBy("id").collect()
    assert [r.id for r in rows] == list(range(24))
    assert rows[7].v == "rec7"
    # start_cursor resumes mid-stream (the batch analogue of resume)
    resumed = (
        spark.read.format("paged_api")
        .schema(SCHEMA)
        .options(pager="synthetic", pages="4", page_size="6", start_cursor="18")
        .load()
    )
    assert sorted(r.id for r in resumed.collect()) == list(range(18, 24))


def test_schema_required(spark):
    with pytest.raises(Exception, match="schema"):
        spark.read.format("paged_api").options(pager="synthetic").load().collect()


def _run_stream_until(spark, checkpoint, out_path, seconds=30, want=None):
    """Run the paged_api stream into a parquet sink until `want` rows
    (or timeout); returns collected rows. Micro-batches: one page each."""
    stream = (
        spark.readStream.format("paged_api")
        .schema(SCHEMA)
        .options(pager="synthetic", pages="3", page_size="5")
        .load()
    )
    q = (
        stream.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + seconds
        while time.time() < deadline:
            try:
                n = spark.read.parquet(out_path).count()
            except Exception:
                n = 0
            if want is not None and n >= want:
                break
            time.sleep(0.5)
    finally:
        q.stop()
        q.awaitTermination()
    return spark.read.parquet(out_path).collect()


def test_stream_offsets_are_the_cursor(spark, tmp_path):
    """The streaming form of A11/A12: Spark's offset log carries the
    pager cursor; all pages arrive exactly once across micro-batches,
    and a RESTART from the same checkpoint does not re-emit committed
    pages (resume-from-cursor with zero connector-side state)."""
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")
    rows = _run_stream_until(spark, ckpt, out, want=15)
    assert sorted(r.id for r in rows) == list(range(15))  # exactly once

    # restart from the same checkpoint: pager is caught up, offset log
    # says cursor=15 — nothing is re-imported
    rows2 = _run_stream_until(spark, ckpt, out, seconds=4, want=None)
    assert sorted(r.id for r in rows2) == list(range(15))


def test_import_path_pager_resolution():
    """'module:callable' pagers resolve via the same import-path
    convention the YAML config uses."""
    from snapflow_spark.sources.datasource import _resolve_pager

    fetch = _resolve_pager(
        {"pager": "snapflow_spark.sources.datasource:synthetic_pager"}
    )
    records, cur = fetch(None)
    assert [r["id"] for r in records] == [0, 1, 2, 3, 4] and cur == 5
    with pytest.raises(ValueError, match="module:callable"):
        _resolve_pager({"pager": "no-colon"})


def test_paged_api_to_snapshot_sink_stream(spark, tmp_path):
    """The composed pipeline: paged_api stream source (offset log =
    cursor) -> ``stream_to_snapshots`` (micro-batch = one committed
    snapshot). A bounded (availableNow) run lands what the source
    reports at its start, one page here, so the run restarts on the
    same checkpoint until caught up: all records land exactly once,
    under one query id whose mark is the last batch id."""
    from snapflow_spark.incremental.store import SnapshotStore
    from snapflow_spark.streaming import stream_to_snapshots

    store, ckpt = SnapshotStore(tmp_path / "sink"), str(tmp_path / "ckpt")
    stream = (
        spark.readStream.format("paged_api")
        .schema(SCHEMA)
        .options(pager="synthetic", pages="3", page_size="5")
        .load()
    )
    for _ in range(4):  # 3 pages, then a caught-up run
        stream_to_snapshots(stream, store, checkpoint=ckpt)
    rows = store.read(spark).collect()
    assert sorted(r.id for r in rows) == list(range(15))  # exactly once
    # the caught-up run did not append an empty snapshot
    assert len(store.snapshot_ids()) <= 3
    assert list(store.stream_marks().values()) == [2]


def test_paged_api_max_pages_truncation_raises(spark):
    """Hitting max_pages with data remaining must fail loudly, not
    return a silently partial dataset."""
    reader = (
        spark.read.format("paged_api")
        .schema(SCHEMA)
        .options(pager="synthetic", pages="5", page_size="4", max_pages="2")
    )
    with pytest.raises(Exception, match="max_pages"):
        reader.load().collect()
    # cap >= page count: clean completion
    ok = (
        spark.read.format("paged_api")
        .schema(SCHEMA)
        .options(pager="synthetic", pages="5", page_size="4", max_pages="5")
        .load()
    )
    assert ok.count() == 20


def test_paged_api_replay_respects_committed_end():
    """readBetweenOffsets must replay exactly the committed range:
    a positional (integer) cursor trims a since-grown page back to the
    committed count; an opaque cursor that no longer replays to the
    committed end fails loudly instead of duplicating rows."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from snapflow_spark.sources.datasource import PagedApiStreamReader

    schema = StructType(
        [StructField("id", LongType()), StructField("v", StringType())]
    )
    r = PagedApiStreamReader(schema, {"pages": "3", "page_size": "5"})

    # faithful replay: committed end == what the pager returns
    assert len(list(r.readBetweenOffsets({"cursor": None}, {"cursor": 5}))) == 5
    # tail page grew after commit (end=3 < the 5 rows now served):
    # trim to the committed 3, not the current 5
    rows = list(r.readBetweenOffsets({"cursor": 0}, {"cursor": 3}))
    assert [t[0] for t in rows] == [0, 1, 2]
    # committed range larger than the page now served: not replayable
    with pytest.raises(ValueError, match="not replayable"):
        list(r.readBetweenOffsets({"cursor": 10}, {"cursor": 25}))

    # opaque (string) cursor drift: no trimming possible -> loud error
    r2 = PagedApiStreamReader(schema, {})
    r2.fetch_page = lambda cursor: ([{"id": 1, "v": "x"}], "c")
    with pytest.raises(ValueError, match="replay drift"):
        list(r2.readBetweenOffsets({"cursor": "a"}, {"cursor": "b"}))


def test_jdbc_cursor_pager_incremental_import(spark, tmp_path):
    """The first CONCRETE fetch_page: paged incremental import from a
    JDBC table (embedded Derby) through the generic connector loop —
    initial backfill pages through the table, a second run imports
    only rows that arrived since the checkpointed cursor, and a
    caught-up run is a no-op."""
    import pyspark.sql.functions as F

    from snapflow_spark.incremental.store import SnapshotStore
    from snapflow_spark.sources import import_api_pages, jdbc_cursor_pager
    from snapflow_spark.sources.io import write_jdbc

    url = f"jdbc:derby:{tmp_path}/jdb_pager;create=true"
    df = spark.range(0, 25).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    write_jdbc(df, url, "t_incr", mode="overwrite")

    pager = jdbc_cursor_pager(spark, url, "t_incr", "k", page_size=10)
    store = SnapshotStore(str(tmp_path / "snap"))
    res = import_api_pages(spark, pager, "k bigint, v bigint", store)
    assert res.n_pages == 3 and res.n_records == 25  # 10+10+5
    assert res.cursor == 24
    got = {r.k: r.v for r in store.read(spark).collect()}
    assert got == {i: i * 10 for i in range(25)}

    # rows arrive later -> only the delta imports, resuming at k>24
    late = spark.range(25, 32).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    write_jdbc(late, url, "t_incr", mode="append")
    res2 = import_api_pages(spark, pager, "k bigint, v bigint", store)
    assert res2.n_pages == 1 and res2.n_records == 7 and res2.cursor == 31
    assert store.read(spark).count() == 32

    # caught up: empty page, cursor unchanged, no snapshot appended
    res3 = import_api_pages(spark, pager, "k bigint, v bigint", store)
    assert res3.n_pages == 0 and res3.cursor == 31

    # identifier guard
    import pytest as _pytest

    with _pytest.raises(ValueError, match="plain identifier"):
        jdbc_cursor_pager(spark, url, "t_incr", "k; DROP TABLE x")
    # table gets the same discipline (config-sourced in the YAML layer)
    with _pytest.raises(ValueError, match="schema.table"):
        jdbc_cursor_pager(spark, url, "t_incr WHERE 1=1; --", "k")
    with _pytest.raises(ValueError, match="schema.table"):
        jdbc_cursor_pager(spark, url, "a.b.c", "k")
    # schema-qualified plain identifiers stay accepted
    jdbc_cursor_pager(spark, url, "app.t_incr", "k")


# --- concrete HTTP connector (round 10) ----------------------------------


def _paged_api_server(
    items, page_size=3, flaky_429=0, require_token=None, retry_after="0"
):
    """A local in-process paged JSON API: cursor style at /cursor
    (after=<id>, body {data: [...], next: id|null}) and page style at
    /pages (page=N, body {results: [...]}); optional bearer-token gate
    and N leading 429s (with Retry-After) to exercise the retry path."""
    import http.server
    import json as _json
    import urllib.parse

    state = {"remaining_429": flaky_429, "hits": 0}

    class H(http.server.BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def _reply(self, code, body, extra=()):
            raw = _json.dumps(body).encode()
            self.send_response(code)
            for k, v in extra:
                self.send_header(k, v)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(raw)))
            self.end_headers()
            self.wfile.write(raw)

        def do_GET(self):
            state["hits"] += 1
            if require_token and self.headers.get("Authorization") != (
                f"Bearer {require_token}"
            ):
                return self._reply(401, {"error": "unauthorized"})
            if state["remaining_429"] > 0:
                state["remaining_429"] -= 1
                return self._reply(
                    429, {"error": "rate"}, extra=[("Retry-After", retry_after)]
                )
            parsed = urllib.parse.urlparse(self.path)
            q = dict(urllib.parse.parse_qsl(parsed.query))
            if parsed.path == "/cursor":
                after = int(q["after"]) if "after" in q else -1
                page = [x for x in items if x["id"] > after][:page_size]
                nxt = page[-1]["id"] if page else None
                return self._reply(200, {"data": page, "next": nxt})
            if parsed.path == "/pages":
                p = int(q.get("page", "1"))
                page = items[(p - 1) * page_size : p * page_size]
                return self._reply(200, {"results": page})
            return self._reply(404, {"error": "nope"})

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), H)
    import threading

    threading.Thread(target=srv.serve_forever, daemon=True).start()
    return srv, state


def test_http_pager_cursor_style_end_to_end(spark, tmp_path):
    """The full connector path on a REAL http request loop (local
    loopback — everything but the WAN): cursor-style pagination with
    auth headers, snapshots per page, checkpointed resume, live
    append, exactly-once history downstream."""
    from snapflow_spark.incremental.store import SnapshotStore
    from snapflow_spark.sources import http_json_pager, import_api_pages

    items = [{"id": i, "v": i * 10} for i in range(8)]
    srv, state = _paged_api_server(items, page_size=3, require_token="tok")
    try:
        url = f"http://127.0.0.1:{srv.server_address[1]}/cursor"
        pager = http_json_pager(
            url,
            records_path="data",
            cursor_param="after",
            next_cursor_path="next",
            headers={"Authorization": "Bearer tok"},
        )
        store = SnapshotStore(str(tmp_path / "api"))
        res = import_api_pages(spark, pager, "id bigint, v bigint", store)
        assert (res.n_pages, res.n_records, res.cursor) == (3, 8, 7)
        got = store.read(spark).orderBy("id").collect()
        assert [(r.id, r.v) for r in got] == [(i, i * 10) for i in range(8)]
        # caught up: next run fetches nothing, cursor holds
        res2 = import_api_pages(spark, pager, "id bigint, v bigint", store)
        assert res2.n_pages == 0 and load_cursor_val(store) == 7
        # the API grows; the next run imports ONLY the delta
        items.extend({"id": i, "v": i * 10} for i in (8, 9))
        res3 = import_api_pages(spark, pager, "id bigint, v bigint", store)
        assert res3.n_records == 2
        assert store.read(spark).count() == 10
    finally:
        srv.shutdown()


def load_cursor_val(store):
    from snapflow_spark.sources import load_cursor

    return load_cursor(store)


def test_http_pager_page_style_and_429_retry(spark, tmp_path):
    from snapflow_spark.incremental.store import SnapshotStore
    from snapflow_spark.sources import http_json_pager, import_api_pages

    items = [{"id": i, "v": i} for i in range(5)]
    srv, state = _paged_api_server(items, page_size=2, flaky_429=2)
    try:
        url = f"http://127.0.0.1:{srv.server_address[1]}/pages"
        slept = []
        pager = http_json_pager(
            url,
            records_path="results",
            page_param="page",
            _sleep=slept.append,
        )
        store = SnapshotStore(str(tmp_path / "pages"))
        res = import_api_pages(spark, pager, "id bigint, v bigint", store)
        assert (res.n_pages, res.n_records, res.cursor) == (3, 5, 3)
        # both 429s were absorbed by retries honoring Retry-After: 0
        assert slept == [0.0, 0.0]
        assert store.read(spark).count() == 5
    finally:
        srv.shutdown()


def test_http_pager_retry_after_http_date(tmp_path):
    """RFC 9110 allows Retry-After as an HTTP-date, not just seconds —
    the pager must back off (not crash on float()) and still succeed.
    A past date waits 0; garbage falls back to exponential backoff."""
    from snapflow_spark.sources import http_json_pager

    for header, check in [
        ("Wed, 21 Oct 2015 07:28:00 GMT", lambda w: w == 0.0),  # past→0
        ("not-a-date-at-all", lambda w: w > 0),  # fallback backoff
    ]:
        items = [{"id": 1, "v": 1}]
        srv, state = _paged_api_server(
            items, flaky_429=1, retry_after=header
        )
        try:
            url = f"http://127.0.0.1:{srv.server_address[1]}/cursor"
            slept = []
            pager = http_json_pager(
                url,
                records_path="data",
                cursor_param="after",
                next_cursor_path="next",
                _sleep=slept.append,
            )
            records, _cursor = pager(None)
            assert [r["id"] for r in records] == [1]
            assert len(slept) == 1 and check(slept[0]), (header, slept)
        finally:
            srv.shutdown()


def test_http_pager_auth_failure_is_not_retried(tmp_path):
    import urllib.error

    from snapflow_spark.sources import http_json_pager

    srv, state = _paged_api_server([], require_token="tok")
    try:
        url = f"http://127.0.0.1:{srv.server_address[1]}/cursor"
        pager = http_json_pager(
            url, records_path="data", cursor_param="after",
            next_cursor_path="next", headers={"Authorization": "Bearer BAD"},
        )
        with pytest.raises(urllib.error.HTTPError):
            pager(None)
        assert state["hits"] == 1  # one attempt: 401 never retries
    finally:
        srv.shutdown()


def test_http_pager_contract_guards():
    from snapflow_spark.sources import http_json_pager

    with pytest.raises(ValueError, match="exactly one"):
        http_json_pager("http://x", cursor_param="a", page_param="p")
    with pytest.raises(ValueError, match="exactly one"):
        http_json_pager("http://x")
    with pytest.raises(ValueError, match="cursor style"):
        http_json_pager("http://x", cursor_param="after")


def test_http_pager_hostile_retry_after_never_hangs(tmp_path):
    """'inf', 'nan', negative, and absurd Retry-After values must not
    hang the pager: non-finite/negative falls back to backoff and any
    wait caps at an hour."""
    import math

    from snapflow_spark.sources import http_json_pager

    for header, check in [
        ("inf", lambda w: math.isfinite(w)),
        ("nan", lambda w: math.isfinite(w)),
        ("-5", lambda w: w >= 0),
        ("99999999", lambda w: w <= 3600.0),
    ]:
        srv, state = _paged_api_server(
            [{"id": 1}], flaky_429=1, retry_after=header
        )
        try:
            url = f"http://127.0.0.1:{srv.server_address[1]}/cursor"
            slept = []
            pager = http_json_pager(
                url, records_path="data", cursor_param="after",
                next_cursor_path="next", _sleep=slept.append,
            )
            records, _ = pager(None)
            assert [r["id"] for r in records] == [1]
            assert len(slept) == 1 and check(slept[0]), (header, slept)
        finally:
            srv.shutdown()
