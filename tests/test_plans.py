"""Plan-layer tests: the declarative graph API (snapflow graph()
parity) and plan-quality assertions via plans.introspect —
SURVEY §3.2/§4.
"""

import pyspark.sql.functions as F

from snapflow_spark.incremental.pipeline import REFERENCE
from snapflow_spark.plans import graph, plan_facts


def test_graph_builder_reactive_fixed_point(spark, tmp_path):
    g = graph(str(tmp_path / "wh"))
    src = g.source("events_in")

    def enrich(spark, input):  # noqa: A002 — snapflow input-name shape
        return input.withColumn("double_v", F.col("v") * 2)

    def total(spark, input):
        return input.groupBy().agg(F.sum("double_v").alias("total"))

    g.create_node("enriched", enrich, upstream="events_in")
    g.create_node("latest_total", total, upstream="enriched", overwrite=True)

    src.append(spark.createDataFrame([(1, 10.0), (2, 20.0)], "id long, v double"))
    assert g.produce(spark) == 2
    assert g.read(spark, "latest_total").first()["total"] == 60.0

    # no new input -> fixed point immediately, zero node runs
    assert g.produce(spark) == 0

    # incremental: only the delta is consumed, state accumulates
    src.append(spark.createDataFrame([(3, 5.0)], "id long, v double"))
    assert g.produce(spark) == 2
    assert g.read(spark, "enriched").count() == 3
    assert g.read(spark, "latest_total").first()["total"] == 10.0  # delta-only agg


def test_graph_reference_input_sees_full_state(spark, tmp_path):
    g = graph(str(tmp_path / "wh2"))
    src = g.source("facts")

    def count_all(spark, full):
        return full.groupBy().agg(F.count(F.lit(1)).alias("n"))

    g.create_node("n_rows", count_all, upstream={"full": ("facts", REFERENCE)}, overwrite=True)

    src.append(spark.createDataFrame([(1,), (2,)], "id long"))
    g.produce(spark)
    assert g.read(spark, "n_rows").first()["n"] == 2
    src.append(spark.createDataFrame([(3,)], "id long"))
    g.produce(spark)
    # reference input re-fires on upstream change and sees ALL rows
    assert g.read(spark, "n_rows").first()["n"] == 3


def test_plan_facts_broadcast_and_pushdown(spark):
    from snapflow_spark.registry import all_queries

    queries = all_queries()
    facts = plan_facts(queries["q_join_broadcast"](spark, "/root/testdata/sf0.001"))
    assert facts.broadcast_joins >= 1  # dim joins must broadcast
    assert not facts.has_cartesian

    facts = plan_facts(queries["q_agg_basic"](spark, "/root/testdata/sf0.001"))
    # the shipdate filter must reach the parquet scan...
    assert any("l_shipdate" in p for p in facts.pushed_filters)
    # ...and the scan must prune to the 7 needed columns
    assert all("l_orderkey" not in s for s in facts.read_schemas)


def test_orc_round_trip_and_pushdown(spark, tmp_path):
    """ORC sink/scan (§2.B.1): lossless round-trip, and predicates +
    column pruning reach the ORC scan just like parquet."""
    from snapflow_spark.sources import read_orc, write_orc

    df = spark.createDataFrame(
        [(i, f"name-{i}", float(i) * 1.5) for i in range(100)],
        "id long, name string, score double",
    )
    path = str(tmp_path / "orc_rt")
    write_orc(df, path)
    back = read_orc(spark, path)
    assert sorted(back.collect()) == sorted(df.collect())

    filtered = back.filter("id >= 90").select("id", "name")
    facts = plan_facts(filtered)
    assert any("id" in p for p in facts.pushed_filters)
    assert all("score" not in s for s in facts.read_schemas)
    assert filtered.count() == 10


PIPELINE_YAML = """
warehouse: "{wh}"
sources:
  - events_src
nodes:
  - name: accumulated
    function: core.accumulate
    upstream: events_src
  - name: latest_state
    function: core.dedupe_keep_latest
    upstream:
      history: {{node: accumulated, mode: reference}}
    params:
      keys: [user_id]
      order_by: ["ts desc"]
    overwrite: true
"""


def test_yaml_graph_round_trip(spark, tmp_path):
    """EP3 parity: a 2-node incremental pipeline declared in YAML runs
    to the reactive fixed point, consuming only deltas per tick."""
    from snapflow_spark.plans import load_graph

    wh = tmp_path / "yaml_wh"
    cfg = tmp_path / "pipeline.yaml"
    cfg.write_text(PIPELINE_YAML.format(wh=wh))

    g = load_graph(cfg)
    src = g.pipeline.sources["events_src"]
    src.append(
        spark.createDataFrame([(1, 1.0, 10.0), (2, 1.0, 20.0)], "user_id long, ts double, v double")
    )
    assert g.produce(spark) == 2
    state = {r.user_id: r.v for r in g.read(spark, "latest_state").collect()}
    assert state == {1: 10.0, 2: 20.0}

    # fixed point with no new input
    assert g.produce(spark) == 0

    # second tick: newer row for user 1 replaces, user 3 appears
    src.append(
        spark.createDataFrame([(1, 2.0, 99.0), (3, 1.0, 30.0)], "user_id long, ts double, v double")
    )
    # reloading from the SAME file resumes from the warehouse ledger
    g2 = load_graph(cfg)
    assert g2.produce(spark) == 2
    state = {r.user_id: r.v for r in g2.read(spark, "latest_state").collect()}
    assert state == {1: 99.0, 2: 20.0, 3: 30.0}


def test_yaml_cli_produce(spark, tmp_path, capsys):
    """CLI round-trip: `python -m snapflow_spark produce pipeline.yaml`."""
    from snapflow_spark.cli import main
    from snapflow_spark.plans import load_graph

    wh = tmp_path / "cli_wh"
    cfg = tmp_path / "pipeline.yaml"
    cfg.write_text(PIPELINE_YAML.format(wh=wh))
    load_graph(cfg).pipeline.sources["events_src"].append(
        spark.createDataFrame([(7, 1.0, 70.0)], "user_id long, ts double, v double")
    )
    assert main(["produce", str(cfg), "--show", "latest_state"]) == 0
    out = capsys.readouterr().out
    assert "produced: 2 node run(s)" in out
    assert "70.0" in out


def test_yaml_builtin_sql_filter_select_and_import_path(spark, tmp_path):
    from snapflow_spark.plans import load_graph

    cfg = {
        "warehouse": str(tmp_path / "wh_sql"),
        "sources": [{"name": "raw"}],
        "nodes": [
            {
                "name": "kept",
                "function": "core.filter",
                "upstream": "raw",
                "params": {"predicate": "v > 10"},
            },
            {
                "name": "shaped",
                "function": "core.select",
                "upstream": "kept",
                "params": {"columns": ["id", "v * 2 AS v2"]},
            },
            {
                "name": "summed",
                "function": "core.sql",
                "upstream": {"t": "shaped"},
                "params": {"sql": "SELECT CAST(SUM(v2) AS DOUBLE) AS total FROM {t}"},
            },
        ],
    }
    g = load_graph(cfg)
    g.pipeline.sources["raw"].append(
        spark.createDataFrame([(1, 5.0), (2, 20.0), (3, 30.0)], "id long, v double")
    )
    assert g.produce(spark) == 3
    assert g.read(spark, "summed").first().total == 100.0

    # import-path resolution + clear error for unknown refs
    import pytest as _pytest

    from snapflow_spark.plans.yaml_config import resolve_function

    fn = resolve_function("snapflow_spark.plans.yaml_config:_accumulate")
    assert callable(fn)
    with _pytest.raises(ValueError, match="core"):
        resolve_function("not_a_builtin")


def test_yaml_builtin_curation_ops(spark, tmp_path):
    """core.split / core.sample / core.pack builtins wire the curation
    operators into YAML pipelines and match direct operator calls."""
    from snapflow_spark.operators import (
        pack_sequences,
        split_by_hash,
        stratified_sample_by_hash,
    )
    from snapflow_spark.plans import load_graph

    cfg = {
        "warehouse": str(tmp_path / "wh_cur"),
        "sources": [{"name": "docs"}],
        "nodes": [
            {
                "name": "with_split",
                "function": "core.split",
                "upstream": "docs",
                "params": {"test_frac": 0.2, "salt": "s1"},
            },
            {
                "name": "sampled",
                "function": "core.sample",
                "upstream": {"input": {"node": "with_split", "mode": "reference"}},
                "params": {"fractions": {"en": 1.0, "fr": 0.5}, "salt": "s2"},
                "overwrite": True,
            },
            {
                "name": "packed",
                "function": "core.pack",
                "upstream": {"input": {"node": "sampled", "mode": "reference"}},
                "params": {"budget": 64, "partition_col": "lang"},
                "overwrite": True,
            },
        ],
    }
    rows = [(i, "en" if i % 3 else "fr", 10 + i % 50) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, n_tokens long")

    g = load_graph(cfg)
    g.pipeline.sources["docs"].append(df)
    assert g.produce(spark) == 3

    expected = pack_sequences(
        stratified_sample_by_hash(
            split_by_hash(df, test_frac=0.2, salt="s1"),
            {"en": 1.0, "fr": 0.5},
            salt="s2",
        ),
        budget=64,
        partition_col="lang",
    )
    got = g.read(spark, "packed")
    assert sorted(got.columns) == sorted(expected.columns)
    key = lambda r: r["doc_id"]  # noqa: E731
    assert sorted(got.collect(), key=key) == sorted(expected.collect(), key=key)
    # the split column made it through and both labels occur
    labels = {r["split"] for r in got.collect()}
    assert labels == {"train", "test"}


def test_bucketed_tables_join_without_exchange(spark, tmp_path):
    """Two tables bucketed on the same key/count sort-merge-join with
    ZERO shuffles — the pay-once co-located join layout."""
    import pyspark.sql.functions as F  # noqa: F811

    from snapflow_spark.plans import plan_facts
    from snapflow_spark.sources import write_bucketed

    orders = spark.range(0, 2000).select(
        F.col("id").alias("order_id"),
        (F.col("id") % 100).alias("cust_id"),
        (F.col("id") * 1.5).alias("total"),
    )
    custs = spark.range(0, 100).select(
        F.col("id").alias("cust_id"), F.concat(F.lit("c"), F.col("id")).alias("name")
    )
    write_bucketed(orders, "b_orders", ["cust_id"], 4, path=str(tmp_path / "o"))
    write_bucketed(custs, "b_custs", ["cust_id"], 4, path=str(tmp_path / "c"))
    try:
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = spark.table("b_orders").join(spark.table("b_custs"), "cust_id")
            facts = plan_facts(joined)
            assert "SortMergeJoin" in facts.joins
            assert facts.exchanges == 0, facts.text
            assert joined.count() == 2000
            # bucketed groupBy on the bucket key also skips its shuffle
            agg = spark.table("b_orders").groupBy("cust_id").agg(F.sum("total"))
            assert plan_facts(agg).exchanges == 0
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_custs")


def test_q_join_inner_uses_bucketed_zero_exchange_smj(spark):
    """The driver-visible q_join_inner runs its fact-fact join over
    the bucketed co-located layout: SortMergeJoin with NO exchange
    under it (the only exchange in the plan is the final groupBy), and
    both fact scans are bucketed."""
    from snapflow_spark.registry import all_queries

    df = all_queries()["q_join_inner"](spark, "/root/testdata/sf0.001")
    facts = plan_facts(df)
    assert "SortMergeJoin" in facts.joins
    assert facts.exchanges == 1, facts.text  # final agg only
    assert "Bucketed: true" in facts.text
    assert "SelectedBucketsCount: 8 out of 8" in facts.text


def test_all_declared_queries_plan_quality(spark):
    """Plan-quality gate over the ENTIRE roster (sf0.001): no
    cartesian outside the documented ground-truth query, bounded
    shuffle counts, and every parquet scan prunes its ReadSchema below
    the full table width. Catches a silently-regressed plan shape the
    value-correctness oracle can't see."""
    from snapflow_spark.registry import all_queries

    # widest base tables: lineitem=11 cols, events=6; any scan reading
    # more than 9 columns has lost pruning
    MAX_READ_COLS = 9
    # the documented nested-loop plans, all one-row-build-side
    # broadcasts where BNLJ is exactly the right physical plan:
    # q_similarity_topk crossJoins the corpus with a BROADCAST probe
    # set; q_text_quality's dsir branch (round 5) crossJoins the
    # occurrence rows with the BROADCAST one-row corpus-totals agg
    # (the bm25-stats shape). q_embed_near_exact is cell-blocked
    # since round 3 and must NOT appear here.
    CARTESIAN_OK = {"q_similarity_topk", "q_text_quality"}
    MAX_EXCHANGES = 12
    # reviewed per-query budgets above the global cap — STATIC counts
    # inflated by byte-identical subtree re-renders that AQE
    # ReuseExchange collapses at runtime (tools/explain_audit.py
    # EXCHANGES_REVIEWED carries the full justification):
    # q_text_quality round 12 adds the 'ppl' branch, whose scored
    # subtree renders three ways (main/totals/thresholds) on top of
    # the dsir twins; corpus-side effective work stays 2 exchanges.
    # q_scan_formats (round 16): 21 static exchanges across the
    # 24-branch fixture union — each delete-applying bridge branch
    # (delta_dv/delta_merge/delta_sync/delta_cm/delta_props DV
    # anti-joins incl. the executor-side DV expand's repartition,
    # iceberg pdel/edel/upsert/upd delete anti-joins, round 16's
    # bucket-spec upsert anti-join) contributes metadata-scale join
    # exchanges over 25-row fixtures that AQE broadcasts at runtime;
    # nothing corpus-side shuffles.
    REVIEWED_EXCHANGES = {"q_text_quality": 26, "q_scan_formats": 21}

    failures = []
    for name, fn in all_queries().items():
        df = fn(spark, "/root/testdata/sf0.001")
        facts = plan_facts(df)
        if facts.has_cartesian and name not in CARTESIAN_OK:
            failures.append(f"{name}: CartesianProduct")
        if "BroadcastNestedLoopJoin" in facts.joins and name not in CARTESIAN_OK:
            failures.append(f"{name}: BroadcastNestedLoopJoin")
        if facts.exchanges > REVIEWED_EXCHANGES.get(name, MAX_EXCHANGES):
            failures.append(f"{name}: {facts.exchanges} exchanges")
        for s in facts.read_schemas:
            ncols = s.count(",") + 1 if s.strip() else 0
            if ncols > MAX_READ_COLS:
                failures.append(f"{name}: ReadSchema {ncols} cols")
    assert not failures, failures


def test_cli_list_run_schema_explain(spark, capsys):
    """Lock the CLI surface: list shows all 50, schema prints DDL,
    run --explain prints a physical plan."""
    from snapflow_spark.cli import main

    assert main(["list"]) == 0
    out = capsys.readouterr().out
    assert out.count("\n") == 50 and "q_agg_basic" in out

    assert main(["schema", "q_agg_basic", "--sf", "/root/testdata/sf0.001"]) == 0
    assert "sum_qty" in capsys.readouterr().out

    assert main(["run", "q_topk", "--sf", "/root/testdata/sf0.001", "--explain"]) == 0
    assert "TakeOrderedAndProject" in capsys.readouterr().out

    assert main(["run", "nope"]) == 2


def test_cli_sql_adhoc(spark, capsys):
    """`python -m snapflow_spark sql "..."` runs ad-hoc SQL over the
    registered catalog views — the interactive SQL-snap surface."""
    from snapflow_spark.cli import main

    assert main([
        "sql",
        "SELECT o_orderpriority, COUNT(*) AS n FROM orders "
        "GROUP BY 1 ORDER BY 1 LIMIT 3",
        "--sf", "/root/testdata/sf0.001",
    ]) == 0
    out = capsys.readouterr().out
    assert "o_orderpriority" in out and "1-URGENT" in out


def test_yaml_builtin_round4_ops(spark, tmp_path):
    """core.cap / core.dedup_lines / core.bm25 builtins wire the
    round-4 operators into YAML pipelines, matching direct calls."""
    from snapflow_spark.operators import bm25_topk, cap_per_domain, dedup_lines_global
    from snapflow_spark.plans import load_graph

    cfg = {
        "warehouse": str(tmp_path / "wh_r4"),
        "sources": [{"name": "docs"}],
        "nodes": [
            {
                "name": "capped",
                "function": "core.cap",
                "upstream": "docs",
                "params": {"cap": 3, "domain_col": "src"},
            },
            {
                "name": "line_deduped",
                "function": "core.dedup_lines",
                "upstream": {"input": {"node": "capped", "mode": "reference"}},
                "overwrite": True,
            },
            {
                "name": "hits",
                "function": "core.bm25",
                "upstream": {"input": {"node": "line_deduped", "mode": "reference"}},
                "params": {"queries": [[1, "alpha beta"]], "k": 3},
                "overwrite": True,
            },
        ],
    }
    rows = [
        (i, f"src{i % 4}", f"alpha line {i}\nshared footer\nbeta tail {i % 5}")
        for i in range(20)
    ]
    df = spark.createDataFrame(rows, "doc_id long, src string, text string")

    g = load_graph(cfg)
    g.pipeline.sources["docs"].append(df)
    assert g.produce(spark) == 3

    expected_capped = cap_per_domain(df, cap=3, domain_col="src")
    assert g.read(spark, "capped").count() == expected_capped.count() == 12
    expected_lines = dedup_lines_global(expected_capped.select("doc_id", "text"))
    got_lines = {r.doc_id: r.text for r in g.read(spark, "line_deduped").collect()}
    for r in expected_lines.collect():
        assert got_lines[r.doc_id] == r.text
    qdf = spark.createDataFrame([(1, "alpha beta")], "query_id bigint, query_text string")
    expected_hits = bm25_topk(expected_lines.select("doc_id", "text"), qdf, k=3)
    got_hits = sorted(
        (r.query_id, r.doc_id, r.score) for r in g.read(spark, "hits").collect()
    )
    exp_hits = sorted(
        (r.query_id, r.doc_id, r.score) for r in expected_hits.collect()
    )
    assert got_hits == exp_hits



def test_yaml_self_importing_source(spark, tmp_path):
    """A source declaring `pager:` + `schema:` imports its own data at
    the start of every produce() (EP3-complete: the config alone pulls
    from the connector). The cursor checkpoint makes the second
    produce a no-op — caught up, clean fixed point."""
    from snapflow_spark.plans import load_graph

    cfg = {
        "warehouse": str(tmp_path / "wh_api"),
        "sources": [
            {
                "name": "api_src",
                "pager": "snapflow_spark.sources.datasource:synthetic_pager",
                "schema": "id bigint, v string",
            }
        ],
        "nodes": [
            {"name": "history", "function": "core.accumulate", "upstream": "api_src"}
        ],
    }
    g = load_graph(cfg)
    assert g.produce(spark) > 0
    got = g.read(spark, "history")
    assert sorted(r.id for r in got.collect()) == list(range(15))

    # second produce: pager caught up (cursor checkpointed in the
    # store), nothing new to consume -> zero node executions
    assert g.produce(spark) == 0
    assert g.read(spark, "history").count() == 15

    # pager without schema is rejected loudly
    import pytest as _pytest

    bad = {**cfg, "sources": [{"name": "x", "pager": "m:f"}], "warehouse": str(tmp_path / "wh_bad")}
    with _pytest.raises(ValueError, match="schema"):
        load_graph(bad)


def test_zorder_layout_skips_on_both_keys(spark, tmp_path):
    """Z-order interleave: the codegen bit ladder matches a python
    Morton reference, the layout round-trips losslessly, and every
    file carries TIGHT min/max ranges on BOTH keys — a box predicate
    on either key prunes most files, where an x-sorted layout has
    full-domain y ranges in every file."""
    import glob

    import pyarrow.parquet as pq

    from snapflow_spark.sources import write_range_sorted, write_zorder, zorder_key

    def morton(a, b):
        out = 0
        for i in range(32):
            out |= ((a >> i) & 1) << (2 * i)
            out |= ((b >> i) & 1) << (2 * i + 1)
        return out

    n = 1 << 7  # 128 x 128 grid
    grid = spark.range(n * n).select(
        (F.col("id") % n).alias("x"), (F.col("id") / n).cast("long").alias("y")
    )
    zdf = grid.select("x", "y", zorder_key(F.col("x"), F.col("y")).alias("z"))
    for r in zdf.where("x < 3 AND y < 3").collect():
        assert r.z == morton(r.x, r.y), (r.x, r.y)

    zpath = str(tmp_path / "zorder")
    write_zorder(grid, zpath, ["x", "y"], n_ranges=16)
    back = spark.read.parquet(zpath)
    assert back.count() == n * n and set(back.columns) == {"x", "y"}

    def file_ranges(path, col):
        out = []
        for f in sorted(glob.glob(path + "/part-*.parquet")):
            md = pq.ParquetFile(f).metadata
            los, his = [], []
            for rg in range(md.num_row_groups):
                for ci in range(md.row_group(rg).num_columns):
                    c = md.row_group(rg).column(ci)
                    if c.path_in_schema == col:
                        los.append(c.statistics.min)
                        his.append(c.statistics.max)
            out.append((min(los), max(his)))
        return out

    # a quarter-domain box touches a minority of z-ordered files on
    # EACH axis; the x-sorted layout covers the full y domain per file
    box_lo, box_hi = 0, n // 4 - 1
    zx = file_ranges(zpath, "x")
    zy = file_ranges(zpath, "y")
    hit_z = sum(
        1
        for (xlo, xhi), (ylo, yhi) in zip(zx, zy)
        if xlo <= box_hi and xhi >= box_lo and ylo <= box_hi and yhi >= box_lo
    )
    assert hit_z <= len(zx) // 2, (hit_z, len(zx))

    spath = str(tmp_path / "xsorted")
    write_range_sorted(grid, spath, ["x"], n_ranges=16)
    sy = file_ranges(spath, "y")
    # single-key sort: every file spans (almost) the whole y domain
    assert all(yhi - ylo >= n - 2 for ylo, yhi in sy)


def test_zorder_sort_key_handles_sign_boundary(spark):
    """Keys >= 2^31 in the second column flip the raw z sign bit;
    zorder_sort_key's XOR remap keeps SIGNED ordering equal to
    unsigned Morton ordering across the full 32-bit domain."""
    from snapflow_spark.sources import zorder_key, zorder_sort_key

    def morton(a, b):
        out = 0
        for i in range(32):
            out |= ((a >> i) & 1) << (2 * i)
            out |= ((b >> i) & 1) << (2 * i + 1)
        return out

    vals = [0, 1, (1 << 31) - 1, 1 << 31, (1 << 32) - 1]
    rows = [(a, b) for a in vals for b in vals]
    df = spark.createDataFrame(rows, "a long, b long").select(
        "a", "b",
        zorder_key(F.col("a"), F.col("b")).alias("z"),
        zorder_sort_key(F.col("a"), F.col("b")).alias("zs"),
    )
    got = df.collect()
    # raw key matches the python reference bit-for-bit (signed wrap ok)
    for r in got:
        expect = morton(r.a, r.b)
        assert r.z == expect - (1 << 64) * (expect >> 63), (r.a, r.b)
    # sort-key order == unsigned morton order
    by_sort = [(r.a, r.b) for r in sorted(got, key=lambda r: r.zs)]
    by_unsigned = [
        (a, b) for a, b in sorted(rows, key=lambda p: morton(p[0], p[1]))
    ]
    assert by_sort == by_unsigned


def test_zorder3_layout_skips_on_all_three_keys(spark, tmp_path):
    """3-key Morton interleave (21 bits/key): the codegen ladder
    matches a python reference, write_zorder lays files out with tight
    min/max on ALL THREE keys (a box predicate prunes most files on
    any axis), and the single-key control spans the full domain of the
    non-sorted keys in every file."""
    import glob

    import pyarrow.parquet as pq

    from snapflow_spark.sources import (
        write_range_sorted,
        write_zorder,
        zorder_key3,
    )

    def morton3(a, b, c):
        out = 0
        for i in range(21):
            out |= ((a >> i) & 1) << (3 * i)
            out |= ((b >> i) & 1) << (3 * i + 1)
            out |= ((c >> i) & 1) << (3 * i + 2)
        return out

    n = 1 << 5  # 32^3 = 32768 points
    grid = spark.range(n * n * n).select(
        (F.col("id") % n).alias("x"),
        ((F.col("id") / n).cast("long") % n).alias("y"),
        (F.col("id") / (n * n)).cast("long").alias("z"),
    )
    zdf = grid.select(
        "x", "y", "z", zorder_key3(F.col("x"), F.col("y"), F.col("z")).alias("m")
    )
    # key parity incl. the 21-bit boundary values
    for r in zdf.where("x < 3 AND y < 3 AND z < 3").collect():
        assert r.m == morton3(r.x, r.y, r.z), (r.x, r.y, r.z)
    big = spark.createDataFrame(
        [(0, 0, 0), (1, 2, 3), ((1 << 21) - 1, (1 << 21) - 1, (1 << 21) - 1)],
        "x long, y long, z long",
    ).select(zorder_key3(F.col("x"), F.col("y"), F.col("z")).alias("m"), "x", "y", "z")
    for r in big.collect():
        assert r.m == morton3(r.x, r.y, r.z)
        assert r.m >= 0  # 63-bit key: signed order == unsigned order

    zpath = str(tmp_path / "zorder3")
    write_zorder(grid, zpath, ["x", "y", "z"], n_ranges=16)
    back = spark.read.parquet(zpath)
    assert back.count() == n * n * n and set(back.columns) == {"x", "y", "z"}

    def file_ranges(path, col):
        out = []
        for f in sorted(glob.glob(path + "/part-*.parquet")):
            md = pq.ParquetFile(f).metadata
            los, his = [], []
            for rg in range(md.num_row_groups):
                for ci in range(md.row_group(rg).num_columns):
                    c = md.row_group(rg).column(ci)
                    if c.path_in_schema == col:
                        los.append(c.statistics.min)
                        his.append(c.statistics.max)
            out.append((min(los), max(his)))
        return out

    # an eighth-domain box (half per axis... quarter per axis) touches
    # a minority of z-ordered files
    box_lo, box_hi = 0, n // 4 - 1
    rx, ry, rz = (file_ranges(zpath, c) for c in ("x", "y", "z"))
    hit = sum(
        1
        for (xl, xh), (yl, yh), (zl, zh) in zip(rx, ry, rz)
        if xl <= box_hi and xh >= box_lo
        and yl <= box_hi and yh >= box_lo
        and zl <= box_hi and zh >= box_lo
    )
    assert hit <= len(rx) // 2, (hit, len(rx))

    # control: x-sorted layout spans the full y and z domains per file
    spath = str(tmp_path / "xsorted3")
    write_range_sorted(grid, spath, ["x"], n_ranges=16)
    for col in ("y", "z"):
        assert all(hi - lo >= n - 2 for lo, hi in file_ranges(spath, col))

    # >3 keys stays a loud error with guidance
    import pytest as _pytest

    with _pytest.raises(ValueError, match="2 or 3"):
        write_zorder(grid, str(tmp_path / "nope"), ["x", "y", "z", "x"])


def test_yaml_builtin_round5_ops(spark, tmp_path):
    """core.dsir / core.frequent_items wire the round-5 selection and
    heavy-hitter operators into YAML pipelines, matching direct calls."""
    from pyspark.sql import functions as F

    from snapflow_spark.functions.heavyhitters import frequent_items
    from snapflow_spark.operators.selection import dsir_select
    from snapflow_spark.plans import load_graph

    rows = [
        (i, "en" if i % 3 else "de", f"spark plan shuffle doc {i} " + "word " * (i % 4))
        for i in range(24)
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    cfg = {
        "warehouse": str(tmp_path / "wh_r5"),
        "sources": [{"name": "docs"}],
        "nodes": [
            {
                "name": "selected",
                "function": "core.dsir",
                "upstream": "docs",
                "params": {"n_keep": 5, "target_where": "lang = 'en'"},
            },
            {
                "name": "top_langs",
                "function": "core.frequent_items",
                "upstream": {"input": {"node": "docs", "mode": "reference"}},
                "params": {"column": "lang", "k": 4},
            },
        ],
    }
    g = load_graph(cfg)
    g.pipeline.sources["docs"].append(df)
    assert g.produce(spark) == 2

    exp = dsir_select(df, None, 5, target_pred=F.col("lang") == "en")
    assert sorted(tuple(r) for r in g.read(spark, "selected").collect()) == sorted(
        tuple(r) for r in exp.collect()
    )
    hh = {r.lang: (r.est_lo, r.est_hi) for r in g.read(spark, "top_langs").collect()}
    s = frequent_items(df, "lang", k=4)
    assert hh == {i: (lo, hi) for i, lo, hi in s.intervals()}


def test_yaml_builtin_perceptual_dedup(spark, tmp_path):
    """core.image_dedup wires perceptual image dedup into YAML
    pipelines; pairs match the direct operator call."""
    from snapflow_spark.multimodal import attach_image_blob, image_near_dup_pairs
    from snapflow_spark.plans import load_graph

    texts = {0: "same text", 1: "same text", 2: "other words"}
    docs = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id bigint, text string"
    )
    blobs = attach_image_blob(docs, width=16, height=16).select("doc_id", "blob")
    cfg = {
        "warehouse": str(tmp_path / "wh_pd"),
        "sources": [{"name": "imgs"}],
        "nodes": [
            {
                "name": "dups",
                "function": "core.image_dedup",
                "upstream": {"input": {"node": "imgs", "mode": "reference"}},
                "params": {"max_hamming": 4},
            }
        ],
    }
    g = load_graph(cfg)
    g.pipeline.sources["imgs"].append(blobs)
    assert g.produce(spark) == 1
    got = sorted((r.id_a, r.id_b) for r in g.read(spark, "dups").collect())
    exp = sorted(
        (r.id_a, r.id_b)
        for r in image_near_dup_pairs(blobs, max_hamming=4).collect()
    )
    assert got == exp == [(0, 1)]


def test_yaml_builtin_excise_spans(spark, tmp_path):
    """core.excise_spans wires ExactSubstr span removal into a YAML
    pipeline: the planted leak is cut from the lower-priority doc,
    surroundings byte-exact, keeper untouched, counters populated."""
    from snapflow_spark.plans import load_graph

    leak = " ".join(f"tok{i}" for i in range(9))
    cfg = {
        "warehouse": str(tmp_path / "wh_excise"),
        "sources": [{"name": "docs"}],
        "nodes": [
            {
                "name": "surgical",
                "function": "core.excise_spans",
                "upstream": "docs",
                "params": {"n": 6, "priority_col": "rank"},
                "overwrite": True,
            },
        ],
    }
    df = spark.createDataFrame(
        [
            (1, 5, "front matter " + leak + " back matter"),
            (2, 1, "the keeper holds " + leak + " forever"),
            (3, 9, "clean doc with nothing shared at all here ok"),
        ],
        "doc_id long, rank long, text string",
    )
    g = load_graph(cfg)
    g.pipeline.sources["docs"].append(df)
    assert g.produce(spark) == 1
    got = {r.doc_id: r for r in g.read(spark, "surgical").collect()}
    assert got[2].text == "the keeper holds " + leak + " forever"
    assert got[1].text == "front matter back matter"
    assert (got[1].n_excised_spans, got[1].n_excised_tokens) == (1, 9)
    assert got[3].text.startswith("clean doc") and got[3].n_excised_tokens == 0


def test_imported_decoder_pickles_path_only():
    """ADVICE r7: an _ImportedDecoder that has ALREADY been called on
    the driver (resolved _fn cached in __dict__) must still serialize
    as just its path — the resolved function is re-imported lazily on
    the deserializing process, never shipped by value."""
    import pickle

    from snapflow_spark.plans.yaml_config import _ImportedDecoder

    d = _ImportedDecoder("json:loads")
    assert d('{"a": 1}') == {"a": 1}  # resolve on the "driver"
    assert d._fn is not None
    state = d.__getstate__()
    assert state["path"] == "json:loads" and "_fn" not in state
    clone = pickle.loads(pickle.dumps(d))
    assert clone._fn is None and clone.path == "json:loads"
    assert clone('{"b": 2}') == {"b": 2}  # lazy re-resolve still works


def test_yaml_declared_external_decoders(spark, tmp_path):
    """VERDICT r6 #5: `decoders: {mp3: module:function}` in a node
    config threads into the fused multimodal stages without python
    glue. The decoder is declared as an IMPORT PATH, shipped to
    executors via addPyFile (the --py-files production story), and
    resolved lazily inside the worker; a bad path fails loudly naming
    the module."""
    import numpy as np
    import pytest

    from snapflow_spark.multimodal.audio import encode_wav
    from snapflow_spark.plans import load_graph
    from snapflow_spark.plans.yaml_config import _ImportedDecoder

    # the user decoder module: a deterministic DSP that reproduces the
    # seeded tone carried in the fake-MP3 blob (seed in bytes 3:11)
    mod = tmp_path / "yamldec_audio.py"
    mod.write_text(
        "import numpy as np\n\n"
        "def decode_mp3(raw):\n"
        "    rng = np.random.default_rng(int.from_bytes(bytes(raw)[3:11], 'little'))\n"
        "    t = np.arange(8000) / 16000.0\n"
        "    x = np.zeros(8000)\n"
        "    for _ in range(4):\n"
        "        f = rng.uniform(300, 3500)\n"
        "        amp = rng.uniform(2000, 6000)\n"
        "        am = rng.uniform(1, 5)\n"
        "        x += amp * np.sin(2*np.pi*f*t) * (1 + 0.3*np.sin(2*np.pi*am*t))\n"
        "    return np.clip(x, -32768, 32767).astype(np.int16), 16000\n"
    )
    spark.sparkContext.addPyFile(str(mod))

    def tone(seed):
        rng = np.random.default_rng(seed)
        t = np.arange(8000) / 16000.0
        x = np.zeros(8000)
        for _ in range(4):
            f = rng.uniform(300, 3500)
            amp = rng.uniform(2000, 6000)
            am = rng.uniform(1, 5)
            x += amp * np.sin(2 * np.pi * f * t) * (1 + 0.3 * np.sin(2 * np.pi * am * t))
        return np.clip(x, -32768, 32767).astype(np.int16)

    fake_mp3 = lambda seed: b"ID3" + int(seed).to_bytes(8, "little")  # noqa: E731
    rows = [
        (0, bytearray(encode_wav(tone(10), 16000))),
        (1, bytearray(fake_mp3(10))),   # same material, MP3 container
        (2, bytearray(fake_mp3(10))),   # exact MP3 dup
        (3, bytearray(fake_mp3(11))),   # different material
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, blob binary")
    cfg = {
        "warehouse": str(tmp_path / "wh_dec"),
        "sources": [{"name": "clips"}],
        "nodes": [
            {
                "name": "dups",
                "function": "core.audio_dedup",
                "upstream": {"input": {"node": "clips", "mode": "reference"}},
                "params": {
                    "max_hamming": 10,
                    "decoders": {"mp3": "yamldec_audio:decode_mp3"},
                },
            }
        ],
    }
    g = load_graph(cfg)
    g.pipeline.sources["clips"].append(df)
    assert g.produce(spark) == 1
    pairs = {(r.id_a, r.id_b) for r in g.read(spark, "dups").collect()}
    assert {(0, 1), (0, 2), (1, 2)} <= pairs
    assert not any(3 in p for p in pairs)
    # validation: malformed path fails at config time, unresolvable
    # module fails at call time naming the path
    with pytest.raises(ValueError, match="module:function"):
        _ImportedDecoder("no_colon_here")
    bad = _ImportedDecoder("definitely_missing_module:fn")
    with pytest.raises(ImportError, match="definitely_missing_module"):
        bad(b"xx")


def test_yaml_builtin_tokenize(spark, tmp_path):
    """core.tokenize: a TRAINED tokenizer artifact (BPE or unigram,
    kind sniffed from the JSON) encodes a text column inside a YAML
    pipeline; counts_only yields the packing-budget column; a unigram
    artifact can run the subword-regularization sampler."""
    import pytest as _pytest

    from snapflow_spark.functions.bpe import train_bpe
    from snapflow_spark.functions.unigram import train_unigram
    from snapflow_spark.plans import load_graph
    from snapflow_spark.plans.yaml_config import _tokenize

    texts = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "pack my box with five dozen liquor jugs"),
        (3, "the quick onyx goblin jumps over the lazy dwarf"),
    ]
    df = spark.createDataFrame(texts, "doc_id bigint, text string")
    bpe = train_bpe(df, num_merges=30)
    uni = train_unigram(df, vocab_size=60, seed_size=300)
    bpe_path = str(tmp_path / "bpe.json")
    uni_path = str(tmp_path / "uni.json")
    bpe.save(bpe_path)
    uni.save(uni_path)

    cfg = {
        "warehouse": str(tmp_path / "wh_tok"),
        "sources": [{"name": "docs"}],
        "nodes": [
            {
                "name": "bpe_counts",
                "function": "core.tokenize",
                "upstream": "docs",
                "params": {"artifact": bpe_path, "counts_only": True,
                           "out_col": "n_bpe"},
                "overwrite": True,
            },
            {
                "name": "uni_sampled",
                "function": "core.tokenize",
                "upstream": "docs",
                "params": {"artifact": uni_path, "sample_alpha": 0.3,
                           "sample_salt": "ep1"},
                "overwrite": True,
            },
        ],
    }
    g = load_graph(cfg)
    g.pipeline.sources["docs"].append(df)
    assert g.produce(spark) == 2
    counts = {r.doc_id: r.n_bpe for r in g.read(spark, "bpe_counts").collect()}
    for i, t in texts:
        assert counts[i] == len(bpe.encode_text(t)), i
    sampled = {r.doc_id: r.tokens for r in g.read(spark, "uni_sampled").collect()}
    for i, t in texts:
        assert sampled[i] == uni.sample_text(t, 0.3, "ep1"), i
        assert "".join(sampled[i]) == t
    # BPE has nothing to sample — loud error
    with _pytest.raises(ValueError, match="unigram-artifact"):
        _tokenize(spark, df, artifact=bpe_path, sample_alpha=0.5)


def test_pipeline_releases_node_pins(spark, tmp_path):
    """run_node runs each node inside a resource scope (VERDICT r7 #1
    lifecycle): a table the node function pins is in memory while the
    node runs and must be UNPINNED once produce() has written the
    snapshot."""
    from snapflow_spark.plans import graph
    from snapflow_spark.scope import pin

    pins, during = [], []

    def node_fn(spark, input):  # noqa: A002
        pinned = pin(spark.createDataFrame([(7, "x")], "id long, pv string"))
        pinned.count()
        pins.append(pinned)
        during.append(pinned.storageLevel.useMemory)
        return input.join(pinned, "id", "left")

    g = graph(str(tmp_path / "wh_release"))
    g.source("src")
    g.create_node("n", node_fn, upstream="src")
    g.pipeline.sources["src"].append(
        spark.createDataFrame([(7, "a")], "id long, v string")
    )
    assert g.produce(spark) == 1
    assert during == [True]
    # the write materialized the output; the node's pin is gone
    assert not pins[0].storageLevel.useMemory
    assert g.read(spark, "n").collect()[0].pv == "x"


def test_yaml_builtin_expect(spark, tmp_path):
    """core.expect: commonmodel-validator semantics as a YAML node —
    quarantine keeps only conforming rows, flag annotates every row,
    fail raises naming each broken rule."""
    import pytest as _pytest

    from snapflow_spark.plans import load_graph
    from snapflow_spark.plans.yaml_config import _expect

    df = spark.createDataFrame(
        [
            (1, "en", 10),
            (2, None, 20),          # not_null(lang) fails
            (3, "english", 30),     # matches fails
            (4, "de", -7),          # in_range + predicate fail
        ],
        "doc_id bigint, lang string, n bigint",
    )
    exps = [
        {"not_null": "lang"},
        {"matches": {"col": "lang", "pattern": "^[a-z]{2}$"}},
        {"in_range": {"col": "n", "lo": 0}},
        {"predicate": "n % 5 = 0", "name": "n_mult5"},
    ]
    cfg = {
        "warehouse": str(tmp_path / "wh_expect"),
        "sources": [{"name": "raw"}],
        "nodes": [
            {
                "name": "gated",
                "function": "core.expect",
                "upstream": "raw",
                "params": {"expectations": exps},
                "overwrite": True,
            },
        ],
    }
    g = load_graph(cfg)
    g.pipeline.sources["raw"].append(df)
    assert g.produce(spark) == 1
    assert [r.doc_id for r in g.read(spark, "gated").collect()] == [1]

    flagged = {r.doc_id: sorted(r.failed_checks)
               for r in _expect(spark, df, exps, on_fail="flag").collect()}
    assert flagged[1] == []
    # NULL passes matches/in_range (those check non-null values only;
    # not_null owns nullness — the quality.py contract)
    assert flagged[2] == ["lang_not_null"]
    assert flagged[3] == ["lang_matches"]
    assert flagged[4] == ["n_in_range", "n_mult5"]

    with _pytest.raises(ValueError, match="lang_not_null_failures"):
        _expect(spark, df, exps, on_fail="fail")
    assert _expect(spark, df.where("doc_id = 1"), exps, on_fail="fail").count() == 1
    with _pytest.raises(ValueError, match="unknown expectation"):
        _expect(spark, df, [{"bogus": "x"}])


def test_cli_table_maintenance(spark, tmp_path, capsys):
    """`python -m snapflow_spark table <op> <path>`: format detection
    plus the delete/optimize/restore (delta) and tag/rollback
    (iceberg) dispatches, each printing one JSON line."""
    import json as _json

    from snapflow_spark.cli import main
    from snapflow_spark.sources.delta import write_delta
    from snapflow_spark.sources.iceberg import write_iceberg

    rows = [(i, f"t{i}", "en") for i in range(6)]
    d = spark.createDataFrame(rows, "doc_id bigint, text string, lang string")
    dt = tmp_path / "dt"
    write_delta(d, dt)

    def run(*argv):
        assert main(list(argv)) == 0
        return _json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    out = run("table", "delete", str(dt), "--where", "doc_id = 0")
    assert out == {"op": "delete", "rows_deleted": 1}
    out = run("table", "optimize", str(dt))
    assert out["op"] == "optimize" and out["files_added"] >= 1
    out = run("table", "restore", str(dt), "--version", "0")
    assert out["op"] == "restore"
    out = run("table", "checkpoint", str(dt))
    assert out["op"] == "checkpoint"

    it = tmp_path / "it"
    s0 = write_iceberg(d, it)
    write_iceberg(d, it, mode="overwrite")
    out = run("table", "tag", str(it), "--name", "v1",
              "--snapshot-id", str(s0))
    assert out == {"op": "tag", "name": "v1"}
    out = run("table", "rollback", str(it), "--snapshot-id", str(s0))
    assert out["op"] == "rollback"
    # round 15: upsert dispatch on both formats (+ v2 checkpoints)
    src = tmp_path / "changelog"
    spark.createDataFrame(
        [(0, "T0", "en"), (9, "t9", "de")],
        "doc_id bigint, text string, lang string",
    ).write.parquet(str(src))
    out = run("table", "upsert", str(dt),
              "--source", str(src), "--keys", "doc_id")
    assert out == {"op": "upsert", "rows_matched": 1,
                   "rows_inserted": 1}
    out = run("table", "upsert", str(it),
              "--source", str(src), "--keys", "doc_id")
    assert out["op"] == "upsert" and out["keys"] == 2
    out = run("table", "checkpoint", str(dt), "--v2")
    assert out["op"] == "checkpoint"
    assert list((dt / "_delta_log" / "_sidecars").glob("*.parquet"))
    # round 15: update dispatch on both formats
    out = run("table", "update", str(dt), "--where", "doc_id = 9",
              "--set", '{"text": "upper(text)"}')
    assert out == {"op": "update", "rows_updated": 1}
    out = run("table", "update", str(it), "--where", "doc_id = 0",
              "--set", '{"text": "upper(text)"}')
    assert out == {"op": "update", "rows_updated": 1}
    # round 15: inspection + log retention dispatches
    out = run("table", "history", str(dt))
    assert out["op"] == "history" and out["rows"][0]["version"] >= 1
    out = run("table", "inspect", str(it), "--kind", "snapshots")
    assert out["kind"] == "snapshots" and out["rows"]
    out = run("table", "clean-log", str(dt),
              "--retention-hours", "0", "--dry-run")
    assert out["op"] == "clean-log" and out["dry_run"] is True
    # wrong-format op and non-table path fail politely
    assert main(["table", "expire", str(dt)]) == 2
    capsys.readouterr()
    assert main(["table", "vacuum", str(tmp_path / "nope")]) == 2
    capsys.readouterr()
    assert main(["table", "upsert", str(dt)]) == 2  # needs args
    capsys.readouterr()


def test_repartition_then_project_shuffle_carries_only_needed_columns(spark):
    """Plan gate (round 18, VERDICT r17 item 8): the
    ``ensure_parallelism(df).select(...)`` pattern relies on
    ColumnPruning pushing the projection THROUGH the round-robin
    Repartition, so the widening shuffle carries only the columns the
    signature stage consumes (id + text), never the full document
    row. If a future optimizer change or code reshuffle broke that,
    every LSH signature pass would shuffle the whole fixture width —
    this pins the byte-width contract on the minhash candidate path."""
    from pyspark.sql import functions as F

    from snapflow_spark.catalog import load_table
    from snapflow_spark.operators.dedup_text import minhash_sha_candidates
    from snapflow_spark.plans.introspect import plan_text

    d = load_table(spark, "/root/testdata/sf0.001", "documents")
    assert len(d.columns) > 2  # the gate is vacuous on a 2-column input
    cands = minhash_sha_candidates(d)
    txt = plan_text(cands)
    # find each RoundRobin exchange's Input list in the formatted plan
    import re

    blocks = re.findall(
        r"\(\d+\) Exchange\n(?:Input(?: \[\d+\])?: \[([^\]]*)\]\n)?"
        r"Arguments: RoundRobinPartitioning",
        txt,
    )
    assert blocks, f"no RoundRobinPartitioning exchange in plan:\n{txt[:2000]}"
    for cols in blocks:
        names = {c.strip().split("#")[0] for c in cols.split(",") if c.strip()}
        # the id may already be aliased to "id" when pruning pushed the
        # projection below the repartition — both spellings are the
        # pruned width; anything else is a full-row shuffle
        assert names <= {"doc_id", "id", "text"}, (
            f"round-robin shuffle carries extra columns: {sorted(names)}"
        )
