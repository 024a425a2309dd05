"""Link-graph analytics over crawled pages — domain edges, degrees,
and PageRank (the classic crawl-quality / frontier-priority signal).

The WARC → HTML pipeline (sources/warc.py, functions/html.py) ends
with every page carrying its outlink list; curation pipelines use the
induced DOMAIN graph two ways: degree statistics (spam domains have
pathological in/out shapes) and PageRank-style authority as a quality
prior (the original crawl-ordering metric, Page et al. 1999).

Spark-first shapes:
- ``link_graph_edges`` — explode the per-page link arrays once,
  collapse to weighted (src_domain, dst_domain, weight) edges: one
  explode + one groupBy; the page table never reappears.
- ``pagerank`` — power iteration with the standard damping +
  uniform-dangling-redistribution model. Each iteration is exactly
  two shuffles on the EDGE set (join ranks at src, groupBy dst) —
  the graph analog of connected_components' loop (dedup_text.py:343)
  and it reuses its discipline: ``localCheckpoint(eager=True)`` per
  round truncates the lineage (the iterative-DataFrame trap), and
  the dangling mass is folded in as a broadcast ONE-ROW aggregate
  (the DSIR deferred-totals shape) instead of a per-round
  driver collect. Ranks sum to 1 at every step by construction.
- ``domain_degrees`` — in/out weighted degrees in one pass each.

Scale: |edges| dominates (billions at crawl scale) and only ever
flows through hash joins/aggs keyed on node id — AQE handles skewed
hubs (a million pages linking wikipedia.org is a skewed-key join, the
documented AQE skew-join case). The rank table is |V| rows (domains,
not pages) and is never broadcast or collected; N and the fixed
iteration count are the only driver-side scalars.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from snapflow_spark.functions.urls import host_expr, registered_domain_expr


def link_graph_edges(
    pages: DataFrame,
    url_col: str = "target_uri",
    links_col: str = "links",
    drop_self: bool = True,
) -> DataFrame:
    """Weighted domain-level edge list from per-page outlinks:
    (src, dst, weight) with weight = number of links from any page of
    src to dst. Domains via the eTLD+1 heuristic; pages with NULL
    link lists contribute nothing; intra-domain links dropped by
    default (navigation noise dominates them)."""
    exploded = pages.select(
        F.col(url_col).alias("__page_url"), F.explode(links_col).alias("__link")
    )
    e = exploded.select(
        registered_domain_expr(host_expr("__page_url")).alias("src"),
        registered_domain_expr(host_expr("__link")).alias("dst"),
    ).where((F.col("src") != "") & (F.col("dst") != ""))
    if drop_self:
        e = e.where(F.col("src") != F.col("dst"))
    return e.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("weight"))


def domain_degrees(edges: DataFrame) -> DataFrame:
    """(domain, out_degree, in_degree, out_weight, in_weight) — the
    spam-shape signal (link farms: huge out, near-zero in). One
    groupBy per direction + a full outer join on the small node
    table."""
    out = edges.groupBy(F.col("src").alias("domain")).agg(
        F.count(F.lit(1)).alias("out_degree"),
        F.sum("weight").alias("out_weight"),
    )
    inn = edges.groupBy(F.col("dst").alias("domain")).agg(
        F.count(F.lit(1)).alias("in_degree"),
        F.sum("weight").alias("in_weight"),
    )
    zero = F.lit(0).cast("bigint")
    return (
        out.join(inn, "domain", "full_outer")
        .select(
            "domain",
            F.coalesce("out_degree", zero).alias("out_degree"),
            F.coalesce("in_degree", zero).alias("in_degree"),
            F.coalesce("out_weight", zero).alias("out_weight"),
            F.coalesce("in_weight", zero).alias("in_weight"),
        )
    )


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    iterations: int = 10,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str | None = "weight",
    eager: bool = False,
) -> DataFrame:
    """PageRank by power iteration: rank' = (1-d)/N + d·(Σ incoming
    rank/out_weight + dangling_mass/N), dangling nodes (no outlinks)
    spreading their rank uniformly — the standard stochastic-matrix
    completion, so ranks sum to 1 every round.

    ``weight_col=None`` treats every edge as weight 1. Fixed
    ``iterations`` (power iteration converges geometrically at rate
    ``damping``; 10 rounds ≈ 0.85¹⁰ ≈ 20% residual on the slowest
    component, 20 rounds ≈ 4% — pick per use; frontier prioritization
    needs the ORDER, which stabilizes much earlier).

    Returns (id, rank). An empty graph (no positive-weight edge)
    returns zero rows with the same schema: ``id`` typed as the edges'
    src/dst column, ``rank`` double.

    Per-iteration cost: one edges⋈ranks hash join + one groupBy(dst)
    — both keyed shuffles AQE can skew-split; the dangling total
    rides a broadcast one-row aggregate, not a driver collect. N itself is a broadcast one-row aggregate too (round 18):
    the old driver-side ``nodes.count()`` launched a full job at
    CONSTRUCTION time; deferring it keeps every scalar in the plan and
    the arithmetic identical (same IEEE double ops, same order).

    ``eager`` (round 18): the per-round ``localCheckpoint`` still
    truncates the logical plan at construction either way (the
    iterative-DataFrame trap — ranks is referenced twice per round, so
    an untruncated plan doubles per iteration), but the default is now
    LAZY materialization: construction launches zero jobs and the
    caller's one action materializes the whole cascade (measured ~17%
    faster end-to-end than the eager form at sf0.1 — the per-round
    eager jobs paid job-launch + AQE latency serially). The internal
    ``nodes``/``norm_edges`` persists must then OUTLIVE construction
    (unpersisting them here is exactly the r17-rejected task-count
    explosion: every un-pinned reference re-runs the edge groupBy),
    so they are exposed as ``pagerank_caches`` on the returned
    DataFrame — the caller-unpersist convention of
    ``ngram_jaccard_pairs.candidate_cache``; pipeline ``run_node``
    releases them automatically. ``eager=True`` restores the
    materialize-at-construction behavior and releases the caches
    before returning."""
    w = F.col(weight_col) if weight_col else F.lit(1).cast("bigint")
    # non-positive weights would poison the out-weight normalization
    # (share = w / Σw, division by zero for an all-zero src); they
    # carry no link semantics either — drop them up front
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst"), w.alias("w")
    ).where(F.col("w") > 0)
    nodes = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
        .persist()
    )
    # per-src total outgoing weight, denormalized onto the edges ONCE
    # (invariant across iterations — pay the join a single time)
    out_w = e.groupBy("src").agg(F.sum("w").alias("out_w"))
    norm_edges = (
        e.join(out_w, "src")
        .select("src", "dst", (F.col("w") / F.col("out_w")).alias("share"))
        .persist()
    )
    has_out = out_w.select(F.col("src").alias("id")).withColumn(
        "has_out", F.lit(True)
    )
    # N as a broadcast one-row aggregate (the DSIR deferred-totals
    # shape). cast to double BEFORE any division — the oracle replays
    # CAST(COUNT(*) AS DOUBLE), and count/double division order is
    # bit-identical to the old python-side 1.0/n_nodes literals.
    ncount = nodes.agg(F.count(F.lit(1)).cast("double").alias("__n"))
    # (id, has_out, __n) — static; dangling = mass where has_out null.
    # An empty graph flows through as zero rows (the old early-return).
    base = (
        nodes.join(has_out, "id", "left")
        .crossJoin(F.broadcast(ncount))
        .localCheckpoint(eager=eager)
    )
    ranks = base.withColumn("rank", F.lit(1.0) / F.col("__n"))

    for _ in range(iterations):
        contribs = (
            norm_edges.join(
                ranks.select(F.col("id").alias("src"), "rank"), "src"
            )
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum(F.col("rank") * F.col("share")).alias("contrib"))
        )
        dangling = ranks.where(F.col("has_out").isNull()).agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dangling_mass")
        )
        ranks = (
            base.join(contribs, "id", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "id",
                "has_out",
                "__n",
                (
                    (F.lit(1.0) - F.lit(damping)) / F.col("__n")
                    + F.lit(damping)
                    * (
                        F.coalesce("contrib", F.lit(0.0))
                        + F.col("dangling_mass") / F.col("__n")
                    )
                ).alias("rank"),
            )
            .localCheckpoint(eager=eager)
        )
    out = ranks.select("id", "rank")
    if eager:
        nodes.unpersist()
        norm_edges.unpersist()
    else:
        out.pagerank_caches = [nodes, norm_edges]
    return out
