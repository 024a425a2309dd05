"""Parity pins for the per-context expression-fragment memo
(functions/fragments.py, round 18 — VERDICT r17 item 1).

The memo must be invisible to query semantics: a query constructed
twice in one session (second construction served from the memo) must
analyze to the same logical plan, and the memo must never outlive or
cross SparkContexts.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from snapflow_spark.functions import fragments
from snapflow_spark.functions.fragments import memo_fragment


def _same_result(df1, df2) -> bool:
    """Catalyst's own plan-equivalence check (normalizes exprIds)."""
    p1 = df1._jdf.queryExecution().analyzed()
    p2 = df2._jdf.queryExecution().analyzed()
    return bool(p1.sameResult(p2))


def test_memo_hits_and_returns_identical_object(spark):
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return F.length(F.col("x"))

    a = memo_fragment(("test.frag", "x"), build)
    b = memo_fragment(("test.frag", "x"), build)
    assert a is b
    assert calls["n"] == 1
    # a different key builds fresh
    c = memo_fragment(("test.frag", "y"), lambda: F.length(F.col("y")))
    assert c is not a


def test_memo_is_keyed_by_context_and_bounded(spark):
    sc = spark.sparkContext
    key = ("test.frag", "ctx")
    built = memo_fragment(key, lambda: F.lit(2))
    per = fragments._CACHE.get(sc)
    assert per is not None
    assert per[key] is built  # stored under the ACTIVE context
    # cap: past _MAX_KEYS the memo degrades to build-fresh, never grows
    old_max = fragments._MAX_KEYS
    try:
        fragments._MAX_KEYS = len(fragments._CACHE[sc])
        before = len(fragments._CACHE[sc])
        out = memo_fragment(("test.overflow",), lambda: F.lit(1))
        assert out is not None
        assert len(fragments._CACHE[sc]) == before  # not stored
    finally:
        fragments._MAX_KEYS = old_max


def test_memo_keys_are_tuples_and_never_collide(spark):
    # "a|b" + "c" and "a" + "b|c" joined with "|" would be one key
    left = memo_fragment(("test.delim", "a|b", "c"), lambda: F.lit("L"))
    right = memo_fragment(("test.delim", "a", "b|c"), lambda: F.lit("R"))
    assert left is not right
    assert "L" in str(left) and "R" in str(right)
    with pytest.raises(TypeError):
        memo_fragment("test.delim|a|b", lambda: F.lit(1))


def test_reconstructed_query_plans_are_equivalent(spark, tmp_path):
    """A fragment-consuming query built twice (cold memo, then warm)
    analyzes to the same plan — the round-18 plan-equality pin for the
    construction-chatter memos."""
    df = spark.createDataFrame(
        [(1, "the cat and the hat", "en"), (2, "der die das und", "de"),
         (3, None, "en"), (4, "a b a b a b a b a b", "fr")],
        "doc_id long, text string, lang string",
    )

    from snapflow_spark.operators.c4 import c4_pass_expr, c4_signals
    from snapflow_spark.operators.gopher import (
        gopher_pass_expr,
        gopher_signals,
    )

    def build_once():
        g = gopher_signals(df).where(gopher_pass_expr())
        c = c4_signals(df).where(c4_pass_expr())
        return g.select("doc_id"), c.select("doc_id")

    g1, c1 = build_once()
    g2, c2 = build_once()  # memo-served second construction
    assert _same_result(g1, g2)
    assert _same_result(c1, c2)
    # and the values agree (tiny eager check)
    assert sorted(r.doc_id for r in g1.collect()) == sorted(
        r.doc_id for r in g2.collect()
    )


def test_text_fragment_builders_memoize_only_string_inputs(spark):
    from snapflow_spark.functions.text import fingerprint_expr, tokens_expr

    s1 = tokens_expr("text")
    s2 = tokens_expr("text")
    assert s1 is s2  # string input: memoized
    c1 = tokens_expr(F.col("text"))
    c2 = tokens_expr(F.col("text"))
    assert c1 is not c2  # Column input: built fresh
    f1 = fingerprint_expr("text")
    f2 = fingerprint_expr("text", n_chars=8)
    assert f1 is not f2  # params are part of the key


def test_shared_fragment_used_twice_in_one_plan(spark):
    """The SAME memoized fragment object may appear in two branches of
    one plan (e.g. a union) — resolution must stay per-occurrence."""
    from snapflow_spark.functions.text import token_count_expr

    df = spark.createDataFrame(
        [(1, "a b c"), (2, "d e")], "doc_id long, text string"
    )
    frag = token_count_expr("text")
    u = df.select(frag.alias("n")).unionAll(df.select(frag.alias("n")))
    assert sorted(r.n for r in u.collect()) == [2, 2, 3, 3]
