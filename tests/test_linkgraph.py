"""Link-graph analytics (operators/linkgraph.py): edge extraction
from page outlinks, degree shapes, and PageRank pinned to a
from-scratch numpy power-iteration reference (same damping/dangling
model, same iteration count)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from snapflow_spark.operators.linkgraph import (
    domain_degrees,
    link_graph_edges,
    pagerank,
)


def _reference_pagerank(edges, damping, iterations):
    """Dense numpy power iteration over weighted (src, dst, w) tuples
    with uniform dangling redistribution — the exact model pagerank()
    claims."""
    nodes = sorted({s for s, _, _ in edges} | {d for _, d, _ in edges})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    M = np.zeros((n, n))
    outw = {}
    for s, _, w in edges:
        outw[s] = outw.get(s, 0) + w
    for s, d, w in edges:
        M[idx[d], idx[s]] += w / outw[s]
    r = np.full(n, 1.0 / n)
    dangling = np.array([nodes[i] not in outw for i in range(n)])
    for _ in range(iterations):
        dm = r[dangling].sum()
        r = (1 - damping) / n + damping * (M @ r + dm / n)
    return dict(zip(nodes, r))


EDGE_SETS = [
    # classic cycle + shortcut: C collects from two sources
    [("a", "b", 1), ("a", "c", 1), ("b", "c", 1), ("c", "a", 1)],
    # dangling sink: b has no outlinks
    [("a", "b", 1), ("c", "b", 1), ("c", "a", 1)],
    # weights matter: a sends 9/10 of its mass to b
    [("a", "b", 9), ("a", "c", 1), ("b", "a", 1), ("c", "a", 1)],
]


@pytest.mark.parametrize("edges", EDGE_SETS)
def test_pagerank_matches_reference(spark, edges):
    df = spark.createDataFrame(edges, "src string, dst string, weight long")
    got = {r.id: r.rank for r in pagerank(df, damping=0.85, iterations=12).collect()}
    want = _reference_pagerank(edges, 0.85, 12)
    assert set(got) == set(want)
    for k in want:
        assert got[k] == pytest.approx(want[k], abs=1e-12)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_pagerank_unweighted_and_ordering(spark):
    edges = [("a", "hub", 1), ("b", "hub", 1), ("c", "hub", 1), ("hub", "a", 1)]
    df = spark.createDataFrame(edges, "src string, dst string, weight long")
    got = {r.id: r.rank for r in pagerank(df, weight_col=None, iterations=15).collect()}
    # the hub everyone links to outranks everything else
    assert got["hub"] == max(got.values())
    assert got["a"] > got["b"] == pytest.approx(got["c"], abs=1e-12)


def test_pagerank_empty(spark):
    from pyspark.sql.types import DoubleType, LongType, StringType

    for id_type in (StringType(), LongType()):
        df = spark.createDataFrame(
            [], f"src {id_type.simpleString()}, dst {id_type.simpleString()}, weight long"
        )
        out = pagerank(df)
        assert [(f.name, f.dataType) for f in out.schema] == [
            ("id", id_type), ("rank", DoubleType())
        ]
        assert out.count() == 0


def test_link_graph_edges(spark):
    rows = [
        ("https://www.a.com/1", ["https://b.co.uk/x", "https://b.co.uk/y",
                                 "https://a.com/self", "#frag-junk"]),
        ("https://a.com/2", ["https://b.co.uk/z"]),
        ("https://c.org/", None),
    ]
    df = spark.createDataFrame(rows, "target_uri string, links array<string>")
    got = {(r.src, r.dst): r.weight for r in link_graph_edges(df).collect()}
    # www./path variants collapse to domains; self-links and junk drop
    assert got == {("a.com", "b.co.uk"): 3}
    # keep self-loops on request
    got2 = {(r.src, r.dst): r.weight
            for r in link_graph_edges(df, drop_self=False).collect()}
    assert got2[("a.com", "a.com")] == 1


def test_domain_degrees(spark):
    edges = [("a", "b", 2), ("a", "c", 1), ("c", "b", 5)]
    df = spark.createDataFrame(edges, "src string, dst string, weight long")
    got = {r.domain: r for r in domain_degrees(df).collect()}
    assert (got["a"].out_degree, got["a"].out_weight) == (2, 3)
    assert (got["a"].in_degree, got["a"].in_weight) == (0, 0)
    assert (got["b"].in_degree, got["b"].in_weight) == (2, 7)
    assert (got["c"].out_degree, got["c"].in_degree) == (1, 1)


def test_html_to_pagerank_composition(spark):
    """Pages straight off the HTML extractor feed the graph ops."""
    from snapflow_spark.functions.html import html_extract

    def page(url, hrefs):
        body = "".join(f'<a href="{h}">x</a>' for h in hrefs)
        return (url, "text/html", body.encode())

    rows = [
        page("https://one.com/p", ["https://two.com/a", "https://two.com/b"]),
        page("https://two.com/q", ["https://one.com/"]),
    ]
    df = spark.createDataFrame(
        rows, "target_uri string, http_content_type string, http_body binary"
    )
    edges = link_graph_edges(html_extract(df))
    ranks = {r.id: r.rank for r in pagerank(edges, iterations=8).collect()}
    assert set(ranks) == {"one.com", "two.com"}
    assert sum(ranks.values()) == pytest.approx(1.0, abs=1e-9)


def test_yaml_builtins_link_graph_pagerank(spark, tmp_path):
    """core.link_graph -> core.pagerank declared in YAML."""
    from snapflow_spark.plans import load_graph

    df = spark.createDataFrame(
        [
            ("https://one.com/p", ["https://two.com/a"]),
            ("https://two.com/q", ["https://one.com/"]),
        ],
        "target_uri string, links array<string>",
    )
    cfg = {
        "warehouse": str(tmp_path / "wh_graph"),
        "sources": [{"name": "pages"}],
        "nodes": [
            {"name": "edges", "function": "core.link_graph",
             "upstream": "pages", "overwrite": True},
            {"name": "ranks", "function": "core.pagerank",
             "upstream": {"input": "edges"},
             "params": {"iterations": 6}, "overwrite": True},
        ],
    }
    g = load_graph(cfg)
    g.pipeline.sources["pages"].append(df)
    assert g.produce(spark) == 2
    ranks = {r.id: r.rank for r in g.read(spark, "ranks").collect()}
    assert set(ranks) == {"one.com", "two.com"}
    assert abs(sum(ranks.values()) - 1.0) < 1e-9


def test_pagerank_drops_nonpositive_weights(spark):
    """Zero-weight edges carry no link mass and must not divide-by-
    zero the share normalization; they are dropped BEFORE node
    collection, so a node appearing only in zero-weight edges leaves
    the graph entirely (consistent: no link semantics, no node)."""
    edges = [("a", "b", 1), ("b", "a", 0), ("z", "a", 0)]
    df = spark.createDataFrame(edges, "src string, dst string, weight long")
    got = {r.id: r.rank for r in pagerank(df, iterations=8).collect()}
    want = _reference_pagerank([("a", "b", 1)], 0.85, 8)
    assert set(got) == {"a", "b"}  # z vanished with its weightless edge
    for k in want:
        assert got[k] == pytest.approx(want[k], abs=1e-12)


def test_pagerank_plan_shape(spark):
    """Plan gate for the iterative op: localCheckpoint truncates each
    round (the final plan must not contain the whole iteration
    history), the only nested-loop join is the documented one-row
    broadcast dangling-mass crossJoin of the LAST round, and no
    un-broadcast CartesianProduct exists anywhere."""
    from snapflow_spark.plans.introspect import plan_facts

    edges = [("a", "b", 1), ("b", "c", 1), ("c", "a", 1)] * 5
    df = spark.createDataFrame(edges, "src string, dst string, weight long")
    ranks = pagerank(df, iterations=6)
    facts = plan_facts(ranks)
    assert not facts.has_cartesian
    # one BNLJ (the 1-row dangling broadcast of the final round);
    # earlier rounds are checkpointed away, so the count must not
    # scale with iterations
    assert facts.joins.count("BroadcastNestedLoopJoin") <= 1
    assert facts.exchanges <= 4  # final round's join+agg, not 6 rounds'
