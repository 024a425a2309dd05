"""Resource scopes (snapflow_spark.scope): every pin and temp dir that
outlives its operator is released by the scope that owns it — a
``with owned():`` block, a pipeline node run, or a registry query
(released when the next registry query on the session starts)."""

from pathlib import Path

from pyspark.sql import Window
from pyspark.sql import functions as F

from snapflow_spark import registry
from snapflow_spark.catalog import DEFAULT_SF_DIR
from snapflow_spark.scope import owned, pin, scratch_dir

SF = str(Path(DEFAULT_SF_DIR).with_name("sf0.001"))  # the smallest fixture


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_scope_owns_pins_and_dirs_only_inside(spark, tmp_path):
    spark.catalog.clearCache()
    loose = pin(spark.range(3))  # no scope open: the caller owns it
    with owned():
        a = pin(spark.range(5))
        with owned():
            b = pin(spark.range(7))
            d = scratch_dir("t_", dir=tmp_path)
        assert not b.storageLevel.useMemory  # inner scope released b
        assert not Path(d).exists()
        assert a.storageLevel.useMemory and loose.storageLevel.useMemory
    assert not a.storageLevel.useMemory
    assert loose.storageLevel.useMemory
    loose.unpersist()
    assert _cache_empty(spark)


def test_registry_queries_release_their_pins(spark):
    """The operators' pins used to ride on DataFrame attributes that
    the queries' own .select/.where dropped, so three of these leaked
    a persist per call. Now each is released once the next registry
    query starts."""
    qs = registry.all_queries()
    pinning = {"q_dedup_minhash", "q_dedup_ngram", "q_text_stats"}
    for name in sorted(pinning) + ["q_fingerprint_winnow"]:
        spark.catalog.clearCache()
        assert qs[name](spark, SF).count() > 0
        # the pins are real while the query's scope is open...
        assert _cache_empty(spark) == (name not in pinning), name
        qs["q_agg_basic"](spark, SF).collect()
        # ...and gone once the next registry query has run
        assert _cache_empty(spark), name


def test_pinning_operators_release_inside_owned(spark):
    from snapflow_spark.operators.dedup_text import (
        excise_shared_spans,
        ngram_jaccard_pairs,
    )
    from snapflow_spark.operators.linkgraph import pagerank

    leak = "the quick brown fox jumps over the lazy dog tonight"
    docs = spark.createDataFrame(
        [(1, "item: " + leak), (2, "intro " + leak + " tail"), (3, "unrelated words")],
        "doc_id bigint, text string",
    )
    cands = spark.createDataFrame([(1, 2)], "id_a bigint, id_b bigint")
    edges = spark.createDataFrame(
        [("a", "b", 1), ("b", "c", 2), ("c", "a", 1)],
        "src string, dst string, weight bigint",
    )
    built = {
        "ngram_jaccard_pairs": lambda: ngram_jaccard_pairs(docs, cands),
        "excise_shared_spans": lambda: excise_shared_spans(docs, n=4),
        "pagerank": lambda: pagerank(edges, iterations=3),
    }
    for name, build in built.items():
        spark.catalog.clearCache()
        with owned():
            assert build().count() > 0
            assert not _cache_empty(spark), name
        assert _cache_empty(spark), name


def test_incremental_semantics_warehouse_lifetime(spark):
    """q_incremental_semantics returns a lazy read of its pipeline
    warehouse: valid until the next registry query starts, removed
    then, and removed at process exit if it was the last one."""
    from snapflow_spark.catalog import load_table
    from snapflow_spark.compat import ts_millis
    from snapflow_spark.queries.framework import _SCRATCH

    qs = registry.all_queries()
    before = set(_SCRATCH.glob("incr_*"))
    first = qs["q_incremental_semantics"](spark, SF)
    (wh,) = set(_SCRATCH.glob("incr_*")) - before
    got = sorted(tuple(r) for r in first.collect())  # no query since
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    want = sorted(
        tuple(r)
        for r in load_table(spark, SF, "events")
        .withColumn("rn", F.row_number().over(w))
        .where("rn = 1")
        .select("user_id", "event_type", "event_id", ts_millis("ts", "ts_ms"), "value")
        .collect()
    )
    assert got == want and got

    second = qs["q_incremental_semantics"](spark, SF)
    assert not wh.exists()  # the next registry query released it
    (wh2,) = set(_SCRATCH.glob("incr_*")) - before
    assert second.count() == len(want)
    registry._remove_query_dirs()  # the atexit hook
    assert not wh2.exists()
