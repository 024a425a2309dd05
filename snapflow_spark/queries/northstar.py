"""North-star queries (SURVEY.md §2.B.11): dedup, similarity search,
text analysis, multimodal — the LLM-data-pipeline operators
(BASELINE.json north_star) as first-class engine capabilities.

Hash-matched where an exact SQL oracle exists; probabilistic/LSH ops
are declared rows-only here and property-tested in
tests/test_northstar.py (SURVEY §5.2(3)).
"""

from __future__ import annotations

import weakref

import pandas as pd  # module-level: pandas_udf string hints need it
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import ArrayType, IntegerType
from pyspark.sql import functions as F

from snapflow_spark.catalog import ensure_parallelism, load_table
from snapflow_spark.functions.fragments import memo_fragment
from snapflow_spark.functions.text import (
    BPE_RE,
    bpe_tokens_expr,
    fingerprint_expr,
    gram_hashes_expr,
    lang_id_expr,
    quality_score_expr,
    token_count_expr,
    tokens_expr,
    winnow_fingerprints_expr,
)
from snapflow_spark.functions.vectors import cosine_similarity
from snapflow_spark.multimodal import attach_image_blob, extract_features
from snapflow_spark.operators.buckets import bucketed_pairs
from snapflow_spark.operators.curation import (
    cap_per_domain,
    pack_sequences,
    split_by_hash,
)
from snapflow_spark.operators.selection import dsir_select
from snapflow_spark.operators.retrieval import (
    bm25_oracle_sql,
    bm25_topk,
    build_vocab,
)
from snapflow_spark.operators.dedup_text import (
    exact_dedup,
    mingram_candidates,
    minhash_sha_candidates,
    ngram_jaccard_pairs,
    simhash_sha_candidates,
)
from snapflow_spark.operators.similarity import (
    IVFPQIndex,
    brute_force_topk,
    embedding_near_dup_pairs_int,
)
from snapflow_spark.registry import query


def _psl_select_items() -> str:
    """DuckDB select-item fragment replaying the vendored PSL over the
    'url' oracle branch's `host` column (generated from the rule
    table, independent algorithm — functions/psl.py)."""
    from snapflow_spark.functions.psl import registered_domain_select_items

    return registered_domain_select_items("host")


@query(
    "q_dedup_exact",
    oracle=r"""
    SELECT 'exact' AS branch,
           sha256(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fingerprint,
           MIN(doc_id) AS doc_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY 2
    UNION ALL
    -- 'lines' branch (round 8): cross-document line dedup (CCNet
    -- boilerplate kill) replayed end-to-end — first corpus-wide
    -- occurrence of each line survives (min (doc_id, line_no)),
    -- documents are REBUILT from surviving lines in order, and the
    -- sha256 of the rebuilt text hash-proves the byte-exact
    -- reconstruction; n_copies carries the per-doc kept-line count
    SELECT 'lines' AS branch, sha256(rebuilt) AS fingerprint,
           doc_id, CAST(n_kept AS BIGINT) AS n_copies
    FROM (
      WITH rawl AS (
        SELECT doc_id,
               unnest(string_split(text, chr(10))) AS line,
               unnest(range(len(string_split(text, chr(10))))) AS line_no
        FROM documents
      ), norm AS (
        SELECT * FROM rawl WHERE regexp_matches(line, '\S')
      ), kept AS (
        SELECT doc_id, line, line_no,
               row_number() OVER (
                 PARTITION BY line ORDER BY doc_id, line_no
               ) AS rn
        FROM norm
      )
      SELECT d.doc_id,
             coalesce(string_agg(CASE WHEN k.rn = 1 THEN k.line END,
                                 chr(10) ORDER BY k.line_no), '') AS rebuilt,
             coalesce(sum(CASE WHEN k.rn = 1 THEN 1 ELSE 0 END), 0) AS n_kept
      FROM documents d LEFT JOIN kept k USING (doc_id)
      GROUP BY d.doc_id
    ) v
    UNION ALL
    -- 'url' branch (rounds 8-9): URL-level dedup (the FIRST pass of
    -- a Common Crawl pipeline — functions/urls.py). URLs are built
    -- deterministically from doc_id so both engines construct the
    -- same inputs; the oracle then independently REPLAYS the full
    -- normalization contract (fragment, scheme/host lowercase,
    -- default-port strip, www. strip, tracking-param filter + sort,
    -- trailing slash) and — round 9 — the full publicsuffix.org
    -- longest-match over the vendored PSL snapshot (exact, wildcard
    -- `*.ck`/`*.kawasaki.jp`, exception `!www.ck`/`!city.kawasaki.jp`
    -- and 3-label `k12.ca.us` rules all exercised by the host
    -- variants below; the PSL replay SQL is generated from the same
    -- rule DATA by functions/psl.py:registered_domain_select_items,
    -- independent CODE). The fingerprint string
    -- 'registered_domain|canonical_url' is char-for-char the whole
    -- pipeline's output.
    SELECT 'url' AS branch, rd || '|' || canon AS fingerprint,
           MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
    FROM (
      WITH urls AS (
        SELECT doc_id,
               (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'https' END) || '://' ||
               (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END) ||
               'Data-' || (doc_id % 200) ||
               (CASE (doc_id % 200) % 8
                     WHEN 0 THEN '.Example.CO.UK'
                     WHEN 1 THEN '.example.com'
                     WHEN 2 THEN '.EXAMPLE.org'
                     WHEN 3 THEN '.site.Example.CK'
                     WHEN 4 THEN '.WWW.CK'
                     WHEN 5 THEN '.schools.K12.CA.US'
                     WHEN 6 THEN '.city.Kawasaki.JP'
                     ELSE '.blog.Kawasaki.jp' END) ||
               (CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END) ||
               '/corpus/item-' || (doc_id % 200) ||
               (CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END) ||
               (CASE WHEN doc_id % 2 = 0 THEN '?a=1&b=2&utm_source=feed'
                     ELSE '?b=2&utm_campaign=x&a=1&fbclid=abc' END) ||
               (CASE WHEN doc_id % 3 = 0 THEN '#sec' ELSE '' END) AS url
        FROM documents
      ), defrag AS (
        SELECT doc_id, trim(regexp_replace(url, '#.*$', '')) AS u FROM urls
      ), parts AS (
        SELECT doc_id,
               lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
               lower(regexp_extract(u, '^[^:/?#]+://([^/?#]+)', 1)) AS hostport,
               regexp_extract(u, '^[^:/?#]+://[^/?#]+([^?#]*)', 1) AS rawpath,
               regexp_extract(u, '\?([^#]*)', 1) AS rawq
        FROM defrag
      ), np AS (
        SELECT doc_id, scheme,
               regexp_replace(
                 CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
                      WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
                      ELSE hostport END,
                 '^www\.', '') AS host,
               regexp_replace(rawpath, '/$', '') AS path,
               array_to_string(
                 list_sort(list_filter(string_split(rawq, '&'),
                   x -> x <> '' AND NOT regexp_matches(x,
                     '^(utm_[^=]*|fbclid|gclid|msclkid|igshid|mc_cid|mc_eid|ref|ref_src)(=|$)'))),
                 '&') AS q
        FROM parts
      ), rdom AS (
        SELECT doc_id,
               scheme || '://' || host || path ||
               CASE WHEN q <> '' THEN '?' || q ELSE '' END AS canon,
               __PSL_ITEMS__
        FROM np
      )
      SELECT doc_id, canon, rd FROM rdom
    ) u
    GROUP BY 1, 2
    """.replace("__PSL_ITEMS__", _psl_select_items()),
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via operators.dedup_text.exact_dedup: group on the
    sha256 fingerprint of normalized text, keep min doc_id.

    Tagged union (round 8): ∪ 'lines' — cross-document LINE dedup
    (operators.dedup_text.dedup_lines_global, the CCNet boilerplate
    kill, de-skewed partial-agg keeper): per doc, the sha256 of the
    text REBUILT from corpus-wide first-occurrence lines (the hash
    proves byte-exact reconstruction against DuckDB's replay) with
    the kept-line count in n_copies. ∪ 'url' (rounds 8-9) — URL-level
    dedup, the cheapest/first pass of a web-corpus pipeline
    (functions/urls.py): deterministic doc_id-derived URLs carrying
    every cosmetic variation the canonicalizer must collapse (case,
    www., default ports, tracking params, param order, trailing
    slash, fragments) are normalized + eTLD+1-extracted by pure
    codegen expressions. Round 9: the eTLD+1 step runs the FULL
    publicsuffix.org longest-match over the vendored PSL snapshot
    (functions/psl.py), and the host variants deliberately hit exact
    2-level (co.uk), wildcard (`*.ck`, `*.kawasaki.jp`), exception
    (`!www.ck`, `!city.kawasaki.jp`) and 3-level exact (`k12.ca.us`)
    rules; the fingerprint 'registered_domain|canonical_url'
    hash-matches DuckDB's independent SQL replay of the whole
    normalization + PSL contract."""
    d = load_table(spark, sf_dir, "documents")
    exact = exact_dedup(d, text_col="text", id_col="doc_id").select(
        F.lit("exact").alias("branch"), "fingerprint", "doc_id", "n_copies"
    )
    from snapflow_spark.operators.dedup_text import dedup_lines_global

    lines = dedup_lines_global(
        ensure_parallelism(d).select("doc_id", "text")
    ).select(
        F.lit("lines").alias("branch"),
        F.sha2(F.col("text"), 256).alias("fingerprint"),
        "doc_id",
        F.col("n_kept").alias("n_copies"),
    )
    from snapflow_spark.functions.urls import (
        host_expr,
        normalize_url_expr,
        registered_domain_expr,
    )

    def _build_synth_url() -> F.Column:
        i = F.col("doc_id")
        g = (i % 200).cast("string")
        return F.concat(
            F.when(i % 2 == 0, F.lit("HTTPS")).otherwise(F.lit("https")),
            F.lit("://"),
            F.when(i % 3 == 0, F.lit("WWW.")).otherwise(F.lit("")),
            F.lit("Data-"), g,
            F.when((i % 200) % 8 == 0, F.lit(".Example.CO.UK"))
            .when((i % 200) % 8 == 1, F.lit(".example.com"))
            .when((i % 200) % 8 == 2, F.lit(".EXAMPLE.org"))
            .when((i % 200) % 8 == 3, F.lit(".site.Example.CK"))
            .when((i % 200) % 8 == 4, F.lit(".WWW.CK"))
            .when((i % 200) % 8 == 5, F.lit(".schools.K12.CA.US"))
            .when((i % 200) % 8 == 6, F.lit(".city.Kawasaki.JP"))
            .otherwise(F.lit(".blog.Kawasaki.jp")),
            F.when(i % 4 == 0, F.lit(":443")).otherwise(F.lit("")),
            F.lit("/corpus/item-"), g,
            F.when(i % 5 == 0, F.lit("/")).otherwise(F.lit("")),
            F.when(i % 2 == 0, F.lit("?a=1&b=2&utm_source=feed"))
            .otherwise(F.lit("?b=2&utm_campaign=x&a=1&fbclid=abc")),
            F.when(i % 3 == 0, F.lit("#sec")).otherwise(F.lit("")),
        )

    # the synthetic-URL tower and the PSL+normalize fingerprint are
    # pure fragments of fixed column names — memoized per context
    # (round 18, functions/fragments.py; the PSL longest-match tower
    # alone is several hundred py4j round trips per construction)
    synth_url = memo_fragment(
        ("northstar.synth_url", "doc_id"), _build_synth_url
    )
    url_fp = memo_fragment(
        ("northstar.url_fp", "url"),
        lambda: F.concat(
            registered_domain_expr(host_expr("url")),
            F.lit("|"),
            normalize_url_expr("url"),
        ),
    )
    urls = (
        d.select("doc_id", synth_url.alias("url"))
        .select("doc_id", url_fp.alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("n_copies"))
        .select(F.lit("url").alias("branch"), "fingerprint", "doc_id", "n_copies")
    )
    return exact.unionByName(lines).unionByName(urls)


_BM25_QUERIES = [(1, "join hash scan"), (2, "customer filter merge")]


@query(
    "q_similarity_topk",
    oracle=f"""
    SELECT * FROM (
      WITH probe AS (SELECT embedding FROM embeddings WHERE vec_id = 0)
      SELECT 'cos' AS branch, CAST(0 AS BIGINT) AS qid,
             e.vec_id AS item_id,
             round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                          CAST(p.embedding AS DOUBLE[])), 6) AS score
      FROM embeddings e, probe p
      WHERE e.vec_id <> 0
      ORDER BY score DESC, e.vec_id
      LIMIT 5
    )
    UNION ALL
    SELECT 'bm25' AS branch, CAST(query_id AS BIGINT) AS qid,
           doc_id AS item_id, score
    FROM ({bm25_oracle_sql(_BM25_QUERIES, k=5)}) bm
    """,
)
def q_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tagged union (round 4) — the two top-k retrieval modalities a
    corpus-audit pipeline runs side by side:
    - 'cos': exact cosine top-5 neighbors of probe vec_id=0 via
      operators.similarity.brute_force_topk (higher-order array
      algebra, JVM-side; probe broadcast, corpus never shuffles).
    - 'bm25': lexical Okapi-BM25 top-5 documents for two fixed probe
      queries via operators.retrieval.bm25_topk (broadcast query
      terms over one-shuffle postings; exact int/ln arithmetic both
      engines replay bit-for-bit after round-6)."""
    emb = load_table(spark, sf_dir, "embeddings")
    # probe_id from the REAL column, not lit(0): a literal would be
    # constant-folded out of grouped_topk's partitionBy, collapsing the
    # per-probe window to a single global partition (WindowExec "No
    # Partition Defined" — all scores on one task)
    probes = emb.where(F.col("vec_id") == 0).select(
        F.col("vec_id").cast("bigint").alias("probe_id"), "embedding"
    )
    corpus = emb.where(F.col("vec_id") != 0)
    # single_probe: the probe set is the one vec_id=0 row by
    # construction -> TakeOrderedAndProject instead of a window shuffle
    cos = brute_force_topk(corpus, probes, k=5, single_probe=True).select(
        F.lit("cos").alias("branch"),
        F.lit(0).cast("bigint").alias("qid"),
        F.col("vec_id").alias("item_id"),
        F.round("cos", 6).alias("score"),
    )
    d = load_table(spark, sf_dir, "documents")
    qdf = spark.createDataFrame(_BM25_QUERIES, "query_id bigint, query_text string")
    # queries_local: the probe set IS the module-constant list, so the
    # per-construction collect job of the 2-row frame is skipped
    # (round 18; the frame itself stays the declared input)
    bm25 = bm25_topk(d, qdf, k=5, queries_local=_BM25_QUERIES).select(
        F.lit("bm25").alias("branch"),
        F.col("query_id").alias("qid"),
        F.col("doc_id").alias("item_id"),
        "score",
    )
    return cos.unionByName(bm25)


_PR_ITERS = 4
_PR_DAMPING = 0.85


def _pagerank_oracle_ctes() -> str:
    """Unrolled power-iteration replay for the 'pagerank' branch —
    one CTE per iteration, generated so the SQL stays in lockstep
    with _PR_ITERS/_PR_DAMPING. Arithmetic mirrors
    operators/linkgraph.py:pagerank exactly: rank' = (1-d)/N +
    d*(Σ incoming rank·share + dangling_mass/N), everything in IEEE
    doubles (0.85::DOUBLE — a bare literal would be DECIMAL in
    DuckDB and drift)."""
    steps = []
    prev = "r0"
    for k in range(1, _PR_ITERS + 1):
        steps.append(
            f"""r{k} AS (
      SELECT n.id,
             (CAST(1 AS DOUBLE) - {_PR_DAMPING}::DOUBLE) / nn.n
             + {_PR_DAMPING}::DOUBLE *
               (COALESCE(c.contrib, 0::DOUBLE) + dg.mass / nn.n) AS rank
      FROM nodes n
      CROSS JOIN ncount nn
      LEFT JOIN (
        SELECT ne.dst AS id, SUM(r.rank * ne.share) AS contrib
        FROM ne JOIN {prev} r ON ne.src = r.id GROUP BY 1
      ) c ON n.id = c.id
      CROSS JOIN (
        SELECT COALESCE(SUM(r.rank), 0::DOUBLE) AS mass
        FROM {prev} r WHERE r.id NOT IN (SELECT src FROM e)
      ) dg
    )"""
        )
        prev = f"r{k}"
    return ",\n    ".join(steps)


@query(
    "q_text_stats",
    oracle=r"""
    WITH tok AS (
      SELECT lang, unnest(regexp_extract_all(lower(text), '[\p{L}]+')) AS term
      FROM documents
    ), counts AS (
      SELECT lang, term, CAST(COUNT(*) AS BIGINT) AS term_count
      FROM tok GROUP BY 1, 2
    ), ranked AS (
      SELECT *, row_number() OVER (PARTITION BY lang
                                   ORDER BY term_count DESC, term) AS rn
      FROM counts
    )
    SELECT 'stats' AS branch, lang,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT source) AS n_sources,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
           CAST(SUM(len(regexp_extract_all(text, '\S+'))) AS BIGINT) AS total_tokens,
           CAST(NULL AS VARCHAR) AS term,
           CAST(NULL AS BIGINT) AS term_count
    FROM documents
    GROUP BY lang
    UNION ALL
    SELECT 'vocab' AS branch, lang,
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           CAST(NULL AS DOUBLE), CAST(NULL AS BIGINT),
           term, term_count
    FROM ranked WHERE rn <= 5
    UNION ALL
    -- 'pagerank' branch (round 9): power iteration over a
    -- deterministic doc_id-synthesized domain graph (nodes d17-d19
    -- are DANGLING — dst-only — so the uniform-redistribution term is
    -- exercised, not just the contrib join). The replay unrolls
    -- _PR_ITERS steps of exactly linkgraph.pagerank's arithmetic;
    -- round(rank, 6) absorbs summation-order double noise. Node id
    -- rides the 'term' column, rank rides 'avg_chars'.
    SELECT 'pagerank' AS branch, CAST(NULL AS VARCHAR) AS lang,
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           round(rank, 6) AS avg_chars, CAST(NULL AS BIGINT),
           id AS term, CAST(NULL AS BIGINT) AS term_count
    FROM (
      WITH e AS (
        SELECT 'd' || CAST(doc_id % 17 AS VARCHAR) AS src,
               'd' || CAST((doc_id * 7 + 3) % 20 AS VARCHAR) AS dst,
               CAST(COUNT(*) AS BIGINT) AS w
        FROM documents GROUP BY 1, 2
      ), outw AS (
        SELECT src, SUM(w) AS out_w FROM e GROUP BY 1
      ), ne AS (
        SELECT e.src, e.dst, CAST(e.w AS DOUBLE) / CAST(o.out_w AS DOUBLE) AS share
        FROM e JOIN outw o ON e.src = o.src
      ), nodes AS (
        SELECT DISTINCT id FROM (
          SELECT src AS id FROM e UNION ALL SELECT dst FROM e
        )
      ), ncount AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes
      ), r0 AS (
        SELECT id, CAST(1 AS DOUBLE) / nn.n AS rank
        FROM nodes CROSS JOIN ncount nn
      ),
    __PR_STEPS__
      SELECT id, rank FROM __PR_LAST__
    ) pr
    """.replace("__PR_STEPS__", _pagerank_oracle_ctes()).replace(
        "__PR_LAST__", f"r{_PR_ITERS}"
    ),
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tagged union (round 4): per-language corpus statistics
    ('stats' branch — tokenization via the same regex family both
    engines implement identically) ∪ the per-language top-5 token
    vocabulary ('vocab' branch — operators.retrieval.build_vocab, the
    tokenizer-budget audit; ranking count desc / term asc is
    deterministic in both engines) ∪ 'pagerank' (round 9) — the
    link-graph authority prior (operators/linkgraph.py:pagerank,
    Page et al. 1999) over a deterministic doc_id-synthesized domain
    graph with dangling nodes, fixed 4-iteration power iteration,
    hash-matched against DuckDB's unrolled-step replay; node id in
    'term', round(rank, 6) in 'avg_chars'."""
    d = load_table(spark, sf_dir, "documents")
    null_s = F.lit(None).cast("string")
    null_l = F.lit(None).cast("bigint")
    stats = d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
        F.sum("n_chars").alias("total_chars"),
        (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("avg_chars"),
        F.sum(token_count_expr("text").cast("bigint")).alias("total_tokens"),
    ).select(
        F.lit("stats").alias("branch"),
        "lang", "n_docs", "n_sources", "total_chars", "avg_chars", "total_tokens",
        null_s.alias("term"), null_l.alias("term_count"),
    )
    vocab = build_vocab(d, top_k=5, by="lang").select(
        F.lit("vocab").alias("branch"),
        "lang",
        null_l.alias("n_docs"), null_l.alias("n_sources"),
        null_l.alias("total_chars"),
        F.lit(None).cast("double").alias("avg_chars"),
        null_l.alias("total_tokens"),
        "term", "term_count",
    )
    from snapflow_spark.operators.linkgraph import pagerank

    i = F.col("doc_id")
    edges = (
        d.select(
            F.concat(F.lit("d"), (i % 17).cast("string")).alias("src"),
            F.concat(F.lit("d"), ((i * 7 + 3) % 20).cast("string")).alias("dst"),
        )
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("weight"))
    )
    pr = pagerank(edges, damping=_PR_DAMPING, iterations=_PR_ITERS).select(
        F.lit("pagerank").alias("branch"),
        null_s.alias("lang"),
        null_l.alias("n_docs"), null_l.alias("n_sources"),
        null_l.alias("total_chars"),
        F.round("rank", 6).alias("avg_chars"),
        null_l.alias("total_tokens"),
        F.col("id").alias("term"), null_l.alias("term_count"),
    )
    return stats.unionByName(vocab).unionByName(pr)


def _gopher_oracle_branch() -> str:
    """The q_text_quality 'gopher' branch oracle, generated from the
    SAME constants the operator uses (operators/gopher.py:
    SIGNAL_COLUMNS, PASS_RULES, GOPHER_DEFAULTS, stopword list, n-gram
    sizes) so the replay can never drift from the rule set. Every
    signal is packed into the fingerprint as round(x*1e6) integers
    (double→VARCHAR formatting differs across engines; integers
    don't), and the keep decision rides `quality` as 1.0/0.0."""
    from snapflow_spark.operators.gopher import (
        _DUP_NS,
        _TOP_NS,
        GOPHER_DEFAULTS,
        GOPHER_STOPWORDS,
        PASS_RULES,
        SIGNAL_COLUMNS,
    )

    gram_units = "\n    UNION ALL\n".join(
        f"""    SELECT doc_id, 'g{n}' AS kind,
           unnest(CASE WHEN len(toks) >= {n}
                  THEN list_transform(range(1, len(toks) - {n} + 2),
                         i -> array_to_string(toks[i:i+{n}-1], ' '))
                  ELSE [array_to_string(toks, ' ')] END) AS unit
    FROM gsig1"""
        for n in (*_TOP_NS, *_DUP_NS)
    )

    def kmax(kind: str, metric: str) -> str:
        return f"MAX(CASE WHEN kind = '{kind}' THEN {metric} END)"

    def frac(kind: str, num: str, den: str) -> str:
        return (
            f"COALESCE(CAST({kmax(kind, num)} AS DOUBLE) / "
            f"NULLIF({kmax(kind, den)}, 0), 0.0)"
        )

    rep_cols = [
        frac("line", "eu", "tu") + " AS dup_line_frac",
        frac("line", "ec", "tc") + " AS dup_line_char_frac",
        frac("para", "eu", "tu") + " AS dup_para_frac",
        frac("para", "ec", "tc") + " AS dup_para_char_frac",
    ]
    for n in _TOP_NS:
        rep_cols.append(frac(f"g{n}", "topc", "tc") + f" AS top{n}_char_frac")
    for n in _DUP_NS:
        rep_cols.append(frac(f"g{n}", "dac", "tc") + f" AS dup{n}_char_frac")

    stop_hits = " + ".join(
        f"CASE WHEN list_contains(lw, '{sw}') THEN 1 ELSE 0 END"
        for sw in GOPHER_STOPWORDS
    )

    def lit(v) -> str:
        return repr(v) + "::DOUBLE" if isinstance(v, float) else repr(v)

    conds = " AND ".join(
        f"{col} {op} {lit(GOPHER_DEFAULTS[key])}" for col, op, key in PASS_RULES
    )
    fp = ", ".join(
        f"COALESCE(CAST(round({c} * 1000000) AS BIGINT), -1)"
        for c in SIGNAL_COLUMNS
    )
    return f"""
    UNION ALL
    -- 'gopher' branch (round 9): the full Rae et al. 2021 rule
    -- battery — every signal replayed and packed into the
    -- fingerprint, keep decision in `quality`
    SELECT 'gopher' AS branch, doc_id, lang, CAST(NULL AS VARCHAR) AS lang_pred,
           CASE WHEN COALESCE({conds}, FALSE) THEN 1.0 ELSE 0.0 END AS quality,
           concat_ws('|', {fp}) AS fingerprint,
           CAST(n_words AS BIGINT) AS n_tokens
    FROM (
      WITH gsig1 AS (
        SELECT doc_id, lang, text,
               regexp_extract_all(text, '\\S+') AS toks,
               string_split(text, chr(10)) AS rawlines
        FROM documents
      ), gsig2 AS (
        SELECT doc_id, lang, toks,
               len(toks) AS n_words,
               list_filter(rawlines, x -> regexp_matches(x, '\\S')) AS nb,
               list_transform(toks, x -> lower(x)) AS lw,
               length(regexp_replace(text, '\\s', '', 'g')) AS word_chars,
               length(text) - length(replace(text, '#', '')) AS n_hash,
               (length(text) - length(replace(text, '...', ''))) / 3.0 AS n_ell
        FROM gsig1
      ), gsig3 AS (
        SELECT doc_id, lang, n_words,
               CASE WHEN n_words > 0 THEN CAST(word_chars AS DOUBLE) / n_words END AS mean_word_len,
               CASE WHEN n_words > 0 THEN CAST(n_hash AS DOUBLE) / n_words END AS hash_word_ratio,
               CASE WHEN n_words > 0 THEN n_ell / n_words END AS ellipsis_word_ratio,
               CASE WHEN len(nb) > 0 THEN CAST(len(list_filter(nb,
                 x -> regexp_matches(x, '^\\s*[-*•‣▪]'))) AS DOUBLE) / len(nb) END AS bullet_line_frac,
               CASE WHEN len(nb) > 0 THEN CAST(len(list_filter(nb,
                 x -> regexp_matches(x, '(\\.\\.\\.|…)\\s*$'))) AS DOUBLE) / len(nb) END AS ellipsis_line_frac,
               CASE WHEN n_words > 0 THEN CAST(len(list_filter(toks,
                 x -> regexp_matches(x, '[\\p{{L}}]'))) AS DOUBLE) / n_words END AS alpha_word_frac,
               {stop_hits} AS stop_hits
        FROM gsig2
      ), gunits AS (
        SELECT doc_id, 'line' AS kind,
               unnest(list_filter(list_transform(rawlines, x -> trim(x)),
                                  x -> x <> '')) AS unit
        FROM gsig1
        UNION ALL
        SELECT doc_id, 'para' AS kind,
               unnest(list_filter(list_transform(
                 string_split_regex(text, '\\n{{2,}}'), x -> trim(x)),
                 x -> x <> '')) AS unit
        FROM gsig1
        UNION ALL
{gram_units}
      ), gucnt AS (
        SELECT doc_id, kind, unit, COUNT(*) AS c
        FROM gunits GROUP BY 1, 2, 3
      ), gperk AS (
        SELECT doc_id, kind,
               SUM(c) AS tu,
               SUM(CASE WHEN c > 1 THEN c - 1 ELSE 0 END) AS eu,
               SUM(c * length(unit)) AS tc,
               SUM(CASE WHEN c > 1 THEN (c - 1) * length(unit) ELSE 0 END) AS ec,
               SUM(CASE WHEN c > 1 THEN c * length(unit) ELSE 0 END) AS dac,
               MAX(c * length(unit)) AS topc
        FROM gucnt GROUP BY 1, 2
      ), grep AS (
        SELECT doc_id, {', '.join(rep_cols)}
        FROM gperk GROUP BY doc_id
      )
      SELECT gsig3.*,
             COALESCE(dup_line_frac, 0.0) AS dup_line_frac,
             COALESCE(dup_line_char_frac, 0.0) AS dup_line_char_frac,
             COALESCE(dup_para_frac, 0.0) AS dup_para_frac,
             COALESCE(dup_para_char_frac, 0.0) AS dup_para_char_frac,
             {', '.join(f'COALESCE(top{n}_char_frac, 0.0) AS top{n}_char_frac' for n in _TOP_NS)},
             {', '.join(f'COALESCE(dup{n}_char_frac, 0.0) AS dup{n}_char_frac' for n in _DUP_NS)}
      FROM gsig3 LEFT JOIN grep USING (doc_id)
    ) gsig
    """


def _c4_oracle_branch() -> str:
    """The q_text_quality 'c4' branch oracle, generated from the SAME
    constants the operator uses (operators/c4.py: C4_DEFAULTS,
    C4_POLICY_SUBSTRINGS) so the replay can never drift. The roster
    branch runs with an empty badwords list (nothing is silently
    censored), so badword_hits is the literal 0 in both engines."""
    from snapflow_spark.operators.c4 import C4_DEFAULTS, C4_POLICY_SUBSTRINGS

    mw = int(C4_DEFAULTS["min_words_per_line"])
    ms = int(C4_DEFAULTS["min_num_sentences"])
    policy = " OR ".join(
        f"contains(lower(x), '{p}')" for p in C4_POLICY_SUBSTRINGS
    )
    kept = (
        "list_filter(list_transform(string_split_regex(text, '\\r?\\n'),"
        " x -> trim(x)),"
        " x -> regexp_matches(x, '[.!?\"]$')"
        " AND NOT regexp_matches(x, '\\.\\.\\.$')"
        f" AND len(regexp_extract_all(x, '[^ \\t\\f\\r]+')) >= {mw}"
        " AND NOT contains(lower(x), 'javascript')"
        f" AND NOT ({policy}))"
    )
    return f"""
    UNION ALL
    -- 'c4' branch (round 9): the Raffel et al. 2020 line/page
    -- cleaning battery — kept-line set, pinned sentence counter, and
    -- the cleaned text's sha256 all packed into the fingerprint
    SELECT 'c4' AS branch, doc_id, lang, CAST(NULL AS VARCHAR) AS lang_pred,
           CASE WHEN has_li = 0 AND has_cb = 0 AND n_sent >= {ms}
                THEN 1.0 ELSE 0.0 END AS quality,
           concat_ws('|', n_lines, n_kept, n_sent, has_li, has_cb, 0,
                     sha256(joined)) AS fingerprint,
           CAST(len(regexp_extract_all(joined, '\\S+')) AS BIGINT) AS n_tokens
    FROM (
      SELECT *, len(regexp_extract_all(joined,
                 '[.!?]"?([ \\t\\f\\r\\n]|$)')) AS n_sent
      FROM (
        SELECT doc_id, lang,
               len(string_split_regex(text, '\\r?\\n')) AS n_lines,
               len(kept) AS n_kept,
               -- DuckDB's array_to_string([]) is NULL; Spark's
               -- array_join([]) is '' — pin the Spark behavior
               COALESCE(array_to_string(kept, chr(10)), '') AS joined,
               CAST(contains(lower(text), 'lorem ipsum') AS INT) AS has_li,
               CAST(contains(text, '{{') AS INT) AS has_cb
        FROM (SELECT doc_id, lang, text, {kept} AS kept FROM documents)
      )
    ) c4s
    """


@query(
    "q_text_quality",
    # the heuristics are deterministic arithmetic, so the oracle
    # replays them exactly: marker-hit argmax with the fold's
    # keep-earliest tie-break (a later language wins only on a
    # STRICTLY greater score), the same punct/stopword/length ratios,
    # and the shared sha256 fingerprint
    oracle=r"""
    WITH t AS (
      SELECT doc_id, lang, text,
             regexp_extract_all(lower(text), '[\p{L}]+') AS ltoks,
             regexp_extract_all(text, '\S+') AS toks,
             length(text) AS n_chars
      FROM documents
    ), scored AS (
      SELECT *,
        len(list_filter(ltoks, x -> list_contains(['the','and','of','to','is'], x))) AS s_en,
        len(list_filter(ltoks, x -> list_contains(['der','die','und','ist','das'], x))) AS s_de,
        len(list_filter(ltoks, x -> list_contains(['le','la','et','est','les'], x))) AS s_fr,
        len(list_filter(ltoks, x -> list_contains(['el','la','y','es','los'], x))) AS s_es,
        len(list_filter(ltoks, x -> list_contains(['的','是','和'], x))) AS s_zh,
        len(toks) AS n_toks,
        n_chars - length(regexp_replace(text, '[.,;:!?''"()\[\]{}]', '', 'g')) AS n_punct,
        len(list_filter(toks, x -> list_contains(['the','and','of','to','is'], lower(x)))) AS n_stop
      FROM t
    )
    SELECT 'quality' AS branch, doc_id, lang,
           CASE WHEN s_zh > greatest(s_en, s_de, s_fr, s_es) THEN 'zh'
                WHEN s_es > greatest(s_en, s_de, s_fr) THEN 'es'
                WHEN s_fr > greatest(s_en, s_de) THEN 'fr'
                WHEN s_de > s_en THEN 'de'
                ELSE 'en' END AS lang_pred,
           round(0.5 * least(n_toks / 50.0, 1.0)
                 + 0.25 * (1 - least(CASE WHEN n_chars > 0
                                          THEN CAST(n_punct AS DOUBLE) / n_chars
                                          ELSE 0 END * 5, 1.0))
                 + 0.25 * least(CASE WHEN n_toks > 0
                                     THEN CAST(n_stop AS DOUBLE) / n_toks
                                     ELSE 0 END * 5, 1.0),
                 6) AS quality,
           sha256(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fingerprint,
           CAST(len(toks) AS BIGINT) AS n_tokens
    FROM scored
    UNION ALL
    -- 'dsir' branch: importance-resampling selection (target = the
    -- lang='en' slice, raw = the whole corpus), replayed exactly —
    -- hashed-gram buckets (the sha256 nibble fold), smoothed
    -- log-ratio weights, deterministic Gumbel keys, top-20
    SELECT 'dsir' AS branch, doc_id, d.lang, CAST(NULL AS VARCHAR) AS lang_pred,
           key AS quality, CAST(NULL AS VARCHAR) AS fingerprint,
           CAST(rn AS BIGINT) AS n_tokens
    FROM (
      SELECT doc_id, key, row_number() OVER (ORDER BY key DESC, doc_id) AS rn
      FROM (
      SELECT s.doc_id, round(s.log_w - ln(-ln(
               (CAST(CAST(list_sum(list_transform(range(0, 8), j ->
                  (CAST(instr('0123456789abcdef',
                        substr(sha256('dsir-gumbel-v1' || CAST(s.doc_id AS VARCHAR)), j + 1, 1))
                   AS BIGINT) - 1) << (4 * (7 - CAST(j AS INT))))) AS BIGINT) % 10000 AS DOUBLE)
                + 0.5) / 10000.0)), 6) AS key
      FROM (
        WITH dtoks AS (
          SELECT doc_id, lang = 'en' AS is_t,
                 regexp_extract_all(lower(text), '[\p{L}]+') AS t
          FROM documents
        ), dgrams AS (
          SELECT doc_id, is_t, unnest(t) AS g FROM dtoks
          UNION ALL
          SELECT doc_id, is_t,
                 unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS g
          FROM dtoks
        ), dgb AS (
          SELECT g, CAST(list_sum(list_transform(range(0, 8), j ->
              (CAST(instr('0123456789abcdef', substr(sha256('dsir-v1' || g), j + 1, 1)) AS BIGINT) - 1)
              << (4 * (7 - CAST(j AS INT))))) AS BIGINT) % 10000 AS b
          FROM (SELECT DISTINCT g FROM dgrams)
        ), docc AS (
          SELECT doc_id, is_t, b FROM dgrams JOIN dgb USING (g)
        ), dtot AS (
          SELECT CAST(COUNT(*) AS DOUBLE) AS R,
                 CAST(COUNT(*) FILTER (WHERE is_t) AS DOUBLE) AS T
          FROM docc
        ), dbc AS (
          SELECT b, CAST(COUNT(*) AS DOUBLE) AS rc,
                 CAST(COUNT(*) FILTER (WHERE is_t) AS DOUBLE) AS tc
          FROM docc GROUP BY b
        )
        SELECT doc_id, round(SUM(ln((tc + 1.0) / (T + 10000.0))
                                 - ln((rc + 1.0) / (R + 10000.0))), 6) AS log_w
        FROM docc JOIN dbc USING (b) CROSS JOIN dtot
        GROUP BY doc_id
      ) s
      ) keyed
    ) sel JOIN documents d USING (doc_id)
    WHERE rn <= 20
    UNION ALL
    -- 'clf' branch (round 6): the trained-quality-classifier SCORING
    -- path with deterministic formula weights (training itself is
    -- float GD and stays pytest-verified; scoring is exact arithmetic
    -- both engines replay): hashed-gram L1 frequencies, w[b] =
    -- ((b * 2654435761) % 4096 - 2048) / 4096, bias 0.1, sigmoid
    SELECT 'clf' AS branch, doc_id, d.lang, CAST(NULL AS VARCHAR) AS lang_pred,
           round(1.0 / (1.0 + exp(-(0.1 + COALESCE(s, 0.0)))), 6) AS quality,
           CAST(NULL AS VARCHAR) AS fingerprint,
           CAST(COALESCE(tot, 0) AS BIGINT) AS n_tokens
    FROM documents d LEFT JOIN (
      WITH ctoks AS (
        SELECT doc_id, regexp_extract_all(lower(text), '[\p{L}]+') AS t
        FROM documents
      ), cgrams AS (
        SELECT doc_id, unnest(t) AS g FROM ctoks
        UNION ALL
        SELECT doc_id,
               unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS g
        FROM ctoks
      ), cgb AS (
        SELECT g, CAST(list_sum(list_transform(range(0, 8), j ->
            (CAST(instr('0123456789abcdef', substr(sha256('qclf-v1' || g), j + 1, 1)) AS BIGINT) - 1)
            << (4 * (7 - CAST(j AS INT))))) AS BIGINT) % 4096 AS b
        FROM (SELECT DISTINCT g FROM cgrams)
      ), cbc AS (
        SELECT doc_id, b, CAST(COUNT(*) AS DOUBLE) AS c
        FROM cgrams JOIN cgb USING (g) GROUP BY doc_id, b
      ), ctot AS (
        SELECT doc_id, SUM(c) AS tot FROM cbc GROUP BY doc_id
      )
      SELECT doc_id, tot,
             SUM(((CAST((b * 2654435761) % 4096 AS DOUBLE)) - 2048.0)
                 / 4096.0 * (c / tot)) AS s
      FROM cbc JOIN ctot USING (doc_id)
      GROUP BY doc_id, tot
    ) sc USING (doc_id)
    UNION ALL
    -- 'ppl' branch (round 12): CCNet head/middle/tail perplexity
    -- split (Wenzek et al. 2020 §4.4) replayed exactly — hashed-gram
    -- LM cross-entropy against the en slice (the dsir machinery,
    -- same salt + buckets), ppl = exp(ce), EXACT per-language
    -- terciles via quantile_cont (== Spark percentile: linear
    -- interpolation at p*(n-1)), bucket tags from the thresholds;
    -- ppl and both cut points packed into the fingerprint as
    -- round(x*1e6) integers (tercile fracs are {0,1/3,2/3} so the
    -- rounding never sits on a half boundary)
    SELECT 'ppl' AS branch, doc_id, lang,
           CASE WHEN ppl <= q_lo THEN 'head'
                WHEN ppl <= q_hi THEN 'middle'
                ELSE 'tail' END AS lang_pred,
           ce AS quality,
           CAST(CAST(round(ppl * 1000000) AS BIGINT) AS VARCHAR) || '|' ||
           CAST(CAST(round(q_lo * 1000000) AS BIGINT) AS VARCHAR) || '|' ||
           CAST(CAST(round(q_hi * 1000000) AS BIGINT) AS VARCHAR)
             AS fingerprint,
           CAST(n_grams AS BIGINT) AS n_tokens
    FROM (
      WITH ptoks AS (
        SELECT doc_id, lang = 'en' AS is_t,
               regexp_extract_all(lower(text), '[\p{L}]+') AS t
        FROM documents
      ), pgrams AS (
        SELECT doc_id, is_t, unnest(t) AS g FROM ptoks
        UNION ALL
        SELECT doc_id, is_t,
               unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS g
        FROM ptoks
      ), pgb AS (
        SELECT g, CAST(list_sum(list_transform(range(0, 8), j ->
            (CAST(instr('0123456789abcdef', substr(sha256('dsir-v1' || g), j + 1, 1)) AS BIGINT) - 1)
            << (4 * (7 - CAST(j AS INT))))) AS BIGINT) % 10000 AS b
        FROM (SELECT DISTINCT g FROM pgrams)
      ), pocc AS (
        SELECT doc_id, is_t, b FROM pgrams JOIN pgb USING (g)
      ), ptot AS (
        SELECT CAST(COUNT(*) FILTER (WHERE is_t) AS DOUBLE) AS T FROM pocc
      ), pbc AS (
        SELECT b, CAST(COUNT(*) FILTER (WHERE is_t) AS DOUBLE) AS tc
        FROM pocc GROUP BY b
      ), pscore AS (
        SELECT doc_id, COUNT(*) AS n_grams,
               round(ln(T + 10000.0) - AVG(ln(tc + 1.0)), 6) AS ce
        FROM pocc JOIN pbc USING (b) CROSS JOIN ptot
        GROUP BY doc_id, T
      ), pdoc AS (
        SELECT p.doc_id, d.lang, p.n_grams, p.ce,
               round(exp(p.ce), 6) AS ppl
        FROM pscore p JOIN documents d USING (doc_id)
      ), pth AS (
        SELECT lang, quantile_cont(ppl, [1.0/3, 2.0/3]) AS qs
        FROM pdoc GROUP BY lang
      )
      SELECT pdoc.*, qs[1] AS q_lo, qs[2] AS q_hi
      FROM pdoc JOIN pth USING (lang)
    ) pres
    """
    + _gopher_oracle_branch()
    + _c4_oracle_branch(),
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tagged union (round 5): per-document text-analysis sweep
    ('quality' branch — language-ID heuristic, quality score,
    fingerprint, token count, one codegen projection) ∪ DSIR
    importance-resampling selection ('dsir' branch —
    operators.selection.dsir_select with target = the lang='en'
    slice: hashed-gram log-ratio weights + deterministic Gumbel
    top-20, every step replayed by the SQL oracle) ∪ the trained
    quality classifier's SCORING path ('clf' branch, round 6 —
    operators.classifier.score_quality with deterministic FORMULA
    weights w[b] = ((b*2654435761) % 4096 - 2048)/4096, bias 0.1:
    training is float GD and stays reference-parity-tested in pytest,
    but scoring — featurize, bucket, L1 frequencies, dot product,
    sigmoid — is exact arithmetic the oracle replays, so the whole
    corpus-facing inference pipeline is hash-proven) ∪ the Gopher rule
    battery ('gopher' branch, round 9 — every Rae et al. 2021 signal
    packed into the fingerprint) ∪ the C4 cleaning battery ('c4'
    branch, round 9 — operators.c4: line-level keep rules + page
    rules, the CLEANED text's sha256 in the fingerprint so the edit
    itself is hash-proven, not just the keep decision) ∪ the CCNet
    perplexity tier ('ppl' branch, round 12 —
    operators.selection.perplexity_buckets with ref_pred = the en
    slice, by='lang', exact terciles: LM cross-entropy in quality,
    head/middle/tail tag in lang_pred, and ppl + both per-language
    cut points packed into the fingerprint as round(x*1e6) integers,
    so the quantile thresholds themselves are hash-proven)."""
    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    null_s = F.lit(None).cast("string")
    quality = d.select(
        F.lit("quality").alias("branch"),
        "doc_id",
        "lang",
        lang_id_expr("text").alias("lang_pred"),
        quality_score_expr("text").alias("quality"),
        fingerprint_expr("text").alias("fingerprint"),
        token_count_expr("text").cast("bigint").alias("n_tokens"),
    )
    # target_pred form: one documents scan serves both models (the
    # union form would scan+tokenize the en slice separately)
    sel = dsir_select(d, None, 20, target_pred=F.col("lang") == "en")
    dsir = d.select("doc_id", "lang").join(F.broadcast(sel), "doc_id").select(
        F.lit("dsir").alias("branch"),
        "doc_id",
        "lang",
        null_s.alias("lang_pred"),
        F.col("key").alias("quality"),
        null_s.alias("fingerprint"),
        F.col("rank").alias("n_tokens"),
    )
    import numpy as np

    from snapflow_spark.operators.classifier import (
        QualityClassifier,
        score_quality,
    )

    k = np.arange(4096, dtype=np.int64)
    weights = np.append(((k * 2654435761) % 4096 - 2048) / 4096.0, 0.1)
    clf_model = QualityClassifier(weights, 4096, "qclf-v1")
    from snapflow_spark.operators.retrieval import word_tokens_expr

    # one tokenize for the whole branch: featurize consumes the staged
    # token column (tokens_col) and the gram count derives from it as
    # max(2n-1, 0) — no second word_tokens_expr pass
    staged = d.select(
        "doc_id", "lang", word_tokens_expr("text").alias("__toks")
    ).withColumn(
        "__ng",
        F.greatest(F.size("__toks") * 2 - 1, F.lit(0)).cast("bigint"),
    )
    clf = score_quality(staged, clf_model, tokens_col="__toks").select(
        F.lit("clf").alias("branch"),
        "doc_id",
        "lang",
        null_s.alias("lang_pred"),
        F.round("quality_prob", 6).alias("quality"),
        null_s.alias("fingerprint"),
        F.col("__ng").alias("n_tokens"),
    )
    # 'gopher' branch (round 9): the full Rae et al. 2021 rule battery
    # — every signal packed into the fingerprint as round(x*1e6)
    # integers (double->string formats differ across engines; integer
    # strings don't), keep decision as quality 1.0/0.0
    from snapflow_spark.operators.gopher import (
        SIGNAL_COLUMNS,
        gopher_pass_expr,
        gopher_signals,
    )

    # the 21-signal fingerprint battery as ONE parsed SQL expression
    # (round 17, guide §7.3): the per-column builder
    # coalesce(round(c*1e6, 0) cast long, -1) cast string cost ~12
    # py4j round trips per signal (~1.8 s of this query's driver-side
    # construction); one F.expr parses the identical tree JVM-side in
    # a single round trip. SIGNAL_COLUMNS are plain snake_case names.
    _fp_sql = "concat_ws('|', " + ", ".join(
        f"cast(coalesce(cast(round({c} * 1000000.0, 0) as bigint), -1)"
        " as string)"
        for c in SIGNAL_COLUMNS
    ) + ")"
    gopher = gopher_signals(d.select("doc_id", "lang", "text")).select(
        F.lit("gopher").alias("branch"),
        "doc_id",
        "lang",
        null_s.alias("lang_pred"),
        F.when(gopher_pass_expr(), F.lit(1.0)).otherwise(F.lit(0.0)).alias(
            "quality"
        ),
        F.expr(_fp_sql).alias("fingerprint"),
        F.col("n_words").cast("bigint").alias("n_tokens"),
    )
    # 'c4' branch (round 9): the Raffel et al. 2020 cleaning battery —
    # kept-line counts, pinned sentence counter, and the CLEANED
    # text's sha256 packed into the fingerprint, so the oracle proves
    # the edit itself, not just the keep decision
    from snapflow_spark.operators.c4 import (
        SIGNAL_COLUMNS as C4_SIGNALS,
        c4_pass_expr,
        c4_signals,
    )

    c4 = c4_signals(d.select("doc_id", "lang", "text")).select(
        F.lit("c4").alias("branch"),
        "doc_id",
        "lang",
        null_s.alias("lang_pred"),
        F.when(c4_pass_expr(), F.lit(1.0)).otherwise(F.lit(0.0)).alias(
            "quality"
        ),
        F.concat_ws(
            "|",
            *[F.col(c).cast("string") for c in C4_SIGNALS],
            F.sha2("c4_text", 256),
        ).alias("fingerprint"),
        F.size(
            F.regexp_extract_all(F.col("c4_text"), F.lit(r"\S+"), F.lit(0))
        )
        .cast("bigint")
        .alias("n_tokens"),
    )
    # 'ppl' branch (round 12): CCNet head/middle/tail split against
    # the en slice — the hashed-gram scorer (dsir machinery, same
    # salt) with EXACT per-language terciles; thresholds survive into
    # the fingerprint via keep_thresholds so the oracle proves the
    # quantiles, not just the tags
    from snapflow_spark.operators.selection import perplexity_buckets

    # raw = d, NOT a narrower select: the dsir branch's tagged-gram
    # subtree is built from the same d (round 18 note: cross-branch
    # ReuseExchange does NOT fire — the branches' per-doc aggregates
    # differ after pruning; the duplicated totals subtrees are
    # windowless map-side work, measured cheaper than pinning —
    # adjudication in selection.py::_occ_with_model)
    pb = perplexity_buckets(
        d,
        ref_pred=F.col("lang") == "en",
        by="lang",
        exact=True,
        keep_thresholds=True,
    )

    def _pmicro(c: str) -> F.Column:
        return F.round(F.col(c) * 1000000.0, 0).cast("long").cast("string")

    ppl = pb.select(
        F.lit("ppl").alias("branch"),
        "doc_id",
        "lang",
        F.col("ppl_bucket").alias("lang_pred"),
        F.col("cross_entropy").alias("quality"),
        F.concat_ws(
            "|", _pmicro("ppl"), _pmicro("ppl_q_lo"), _pmicro("ppl_q_hi")
        ).alias("fingerprint"),
        F.col("n_grams").cast("bigint").alias("n_tokens"),
    )
    return (
        quality.unionByName(dsir.unionByName(clf))
        .unionByName(gopher)
        .unionByName(c4)
        .unionByName(ppl)
    )


@query(
    "q_tokenize_bpe",
    # plain concatenation: BPE_RE contains {L}/{N} which an f-string
    # would treat as replacement fields
    oracle=r"""
    SELECT doc_id,
           len(regexp_extract_all(text, '\S+')) AS n_ws_tokens,
           len(regexp_extract_all(text, '"""
    + BPE_RE.replace("'", "''")
    + r"""')) AS n_bpe_tokens
    FROM documents
    """,
)
def q_tokenize_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting both ways a training pipeline budgets text:
    whitespace tokens and BPE-ish pre-tokenizer tokens (functions.text
    BPE_RE — a regex subset Java and RE2 execute identically)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        token_count_expr("text").cast("bigint").alias("n_ws_tokens"),
        F.size(bpe_tokens_expr("text")).cast("bigint").alias("n_bpe_tokens"),
    )


@query(
    "q_fingerprint_winnow",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(text, '\S+') AS t FROM documents
    ), grams AS (
      SELECT doc_id,
             CASE WHEN len(t) >= 3
                  THEN list_transform(range(1, len(t) - 1),
                                      i -> concat_ws(' ', t[i], t[i+1], t[i+2]))
                  ELSE [array_to_string(t, ' ')] END AS g
      FROM toks
    ), hashed AS (
      SELECT doc_id, list_transform(g, x -> sha256(x)) AS h FROM grams
    ), winnowed AS (
      SELECT doc_id,
             list_distinct(
               CASE WHEN len(h) >= 4
                    THEN list_transform(range(1, len(h) - 2),
                                        i -> list_min(h[i:i+3]))
                    ELSE [list_min(h)] END) AS fps
      FROM hashed
    )
    SELECT 'winnow' AS branch, doc_id, CAST(NULL AS BIGINT) AS other_id,
           CAST(len(fps) AS BIGINT) AS n_fps,
           list_min(fps) AS min_fp
    FROM winnowed
    UNION ALL
    -- 'spans' branch (round 6): cross-doc copied-span pairs from
    -- fingerprint collisions, replaying the max_df=32 boilerplate
    -- stoplist (fingerprints in >32 docs are dropped, not paired;
    -- the residual max_bucket=64 truncation is vacuous under it)
    SELECT 'spans' AS branch, id_a AS doc_id, id_b AS other_id,
           CAST(COUNT(*) AS BIGINT) AS n_fps, MIN(fp) AS min_fp
    FROM (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.fp
      FROM (
        SELECT doc_id, fp FROM (
          SELECT doc_id, unnest(fps) AS fp FROM winnowed
        ) e QUALIFY COUNT(*) OVER (PARTITION BY fp) <= 32
      ) a JOIN (
        SELECT doc_id, fp FROM (
          SELECT doc_id, unnest(fps) AS fp FROM winnowed
        ) e QUALIFY COUNT(*) OVER (PARTITION BY fp) <= 32
      ) b ON a.fp = b.fp AND a.doc_id < b.doc_id
    ) p
    GROUP BY id_a, id_b HAVING COUNT(*) >= 2
    UNION ALL
    -- 'excise' branch (round 8): ExactSubstr span-level excision
    -- victims — per victim doc, the merged-interval token count the
    -- surgery removes, the span count, and the smallest marked gram
    -- hash. Replays excise_shared_spans(n=8, hash_fn='sha256')
    -- exactly: shared 8-gram marking, min-doc keeper, gaps-and-
    -- islands interval union (merge when next start <= prev end + 1).
    SELECT 'excise' AS branch, doc_id, CAST(n_spans AS BIGINT) AS other_id,
           CAST(n_toks AS BIGINT) AS n_fps, min_gram AS min_fp
    FROM (
      WITH long8 AS (
        SELECT doc_id, t, len(t) AS L FROM toks WHERE len(t) >= 8
      ), grams8 AS (
        SELECT doc_id,
               unnest(list_transform(range(1, L - 6),
                 i -> sha256(concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3],
                                       t[i+4], t[i+5], t[i+6], t[i+7])))) AS h,
               unnest(range(0, L - 7)) AS pos
        FROM long8
      ), keep8 AS (
        SELECT h, MIN(doc_id) AS keeper FROM grams8
        GROUP BY h HAVING MIN(doc_id) <> MAX(doc_id)
      ), marked AS (
        SELECT g.doc_id, g.pos, g.h
        FROM grams8 g JOIN keep8 k USING (h) WHERE g.doc_id <> k.keeper
      ), brk AS (
        SELECT doc_id, pos, h,
               CASE WHEN pos <= MAX(pos + 7) OVER (
                      PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
                    THEN 0 ELSE 1 END AS new_island
        FROM marked
      ), isl AS (
        SELECT doc_id, pos, h,
               SUM(new_island) OVER (PARTITION BY doc_id ORDER BY pos) AS island
        FROM brk
      ), merged AS (
        SELECT doc_id, island, MIN(pos) AS a, MAX(pos) + 7 AS b, MIN(h) AS mh
        FROM isl GROUP BY doc_id, island
      )
      SELECT doc_id, COUNT(*) AS n_spans, SUM(b - a + 1) AS n_toks,
             MIN(mh) AS min_gram
      FROM merged GROUP BY doc_id
    ) v
    """,
)
def q_fingerprint_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprinting (winnowing over token
    3-gram sha256 hashes, window 4) — functions.text
    winnow_fingerprints_expr; sha256 makes it oracle-hashable.

    Tagged union (round 6): per-doc fingerprint summary ('winnow'
    branch) ∪ cross-document COPIED-SPAN pairs from fingerprint
    collisions ('spans' branch — operators.dedup_text
    shared_span_pairs: >= 2 shared winnow fingerprints, the MOSS
    plagiarism/contamination shape whole-doc MinHash misses; the
    oracle replays the max_df=32 boilerplate stoplist exactly)
    ∪ span-level EXCISION victims ('excise' branch, round 8 —
    operators.dedup_text excise_shared_spans in its sha256
    oracle-replayable mode: other_id carries n_excised_spans, n_fps
    carries n_excised_tokens, min_fp the smallest marked gram hash —
    so the keeper choice, position marking AND the surgery's
    merged-interval arithmetic all hash-match DuckDB; the surgery
    itself additionally returns byte-exact text, pinned in pytest).
    cache_victims=False: the n>0 filter constant-folds the clean
    branch away, leaving one reference to the victims table — no pin
    needed, nothing leaks per bench iteration."""
    from snapflow_spark.operators.dedup_text import (
        excise_shared_spans,
        shared_span_pairs,
    )

    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    gram_h = memo_fragment(
        ("northstar.winnow_gram_hashes", "text", 3),
        lambda: gram_hashes_expr(tokens_expr("text"), n=3),
    )
    winnow_fps = memo_fragment(
        ("northstar.winnow_fps", "h", 4),
        lambda: winnow_fingerprints_expr(F.col("h"), w=4),
    )
    staged = d.select("doc_id", gram_h.alias("h")).select(
        "doc_id", winnow_fps.alias("fps")
    )
    null_l = F.lit(None).cast("bigint")
    winnow = staged.select(
        F.lit("winnow").alias("branch"),
        "doc_id",
        null_l.alias("other_id"),
        F.size("fps").cast("bigint").alias("n_fps"),
        F.array_min("fps").alias("min_fp"),
    )
    spans = shared_span_pairs(
        d, n=3, w=4, min_shared=2, max_df=32, max_bucket=64
    ).select(
        F.lit("spans").alias("branch"),
        F.col("id_a").alias("doc_id"),
        F.col("id_b").alias("other_id"),
        F.col("n_shared").alias("n_fps"),
        "min_fp",
    )
    excise = (
        # d passed whole (round 17): excise projects (__id, __prio,
        # __toks) immediately and the outer select prunes the extra
        # document columns, while d's ensure_parallelism memos make the
        # operator's internal partition probe a dict hit instead of a
        # per-construction re-plan (a derived d.select carries no memo)
        excise_shared_spans(
            d,
            n=8,
            hash_fn="sha256",
            cache_victims=False,
        )
        .where(F.col("n_excised_spans") > 0)
        .select(
            F.lit("excise").alias("branch"),
            "doc_id",
            F.col("n_excised_spans").cast("bigint").alias("other_id"),
            F.col("n_excised_tokens").cast("bigint").alias("n_fps"),
            F.col("min_excised_gram").alias("min_fp"),
        )
    )
    return winnow.unionByName(spans).unionByName(excise)


@query(
    "q_dedup_minhash",
    oracle=r"""
    WITH t AS (
      SELECT doc_id, regexp_extract_all(text, '\S+') AS toks FROM documents
    ), g AS (
      SELECT doc_id,
             list_distinct(
               CASE WHEN len(toks) >= 3
                    THEN list_transform(range(1, len(toks) - 1),
                         i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
                    ELSE [array_to_string(toks, ' ')] END) AS grams
      FROM t WHERE len(toks) > 0
    ), h AS (
      SELECT doc_id,
             list_transform(grams, x ->
               list_sum(list_transform(range(0, 8), j ->
                 (CAST(instr('0123456789abcdef', substr(sha256(x), j + 1, 1)) AS BIGINT) - 1)
                 << (4 * (7 - CAST(j AS INT))))) % 2147483647) AS hm
      FROM g
    ), s AS (
      SELECT doc_id,
             list_transform(range(0, 32), i ->
               list_min(list_transform(hm, v ->
                 (((1103515245 * (i + 1) + 12345) % 2147483646 + 1) * v
                  + (1103515245 * (i + 1000) + 12345) % 2147483647)
                 % 2147483647))) AS sig
      FROM h
    ), banded AS (
      SELECT doc_id, u.b AS band_idx,
             sig[2 * u.b + 1] * 2147483647 + sig[2 * u.b + 2] AS band_val
      FROM s CROSS JOIN (SELECT unnest(range(16)) AS b) u
    ), ranked AS (
      SELECT *, row_number() OVER (PARTITION BY band_idx, band_val ORDER BY doc_id) AS rn
      FROM banded
    ), k AS (SELECT * FROM ranked WHERE rn <= 64
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
      FROM k a JOIN k c ON a.band_idx = c.band_idx AND a.band_val = c.band_val
                       AND a.doc_id < c.doc_id
    )
    SELECT p.id_a, p.id_b,
           round(CAST(len(list_intersect(ga.grams, gb.grams)) AS DOUBLE)
                 / len(list_distinct(ga.grams || gb.grams)), 6) AS jaccard
    FROM cand p
    JOIN g ga ON ga.doc_id = p.id_a
    JOIN g gb ON gb.doc_id = p.id_b
    WHERE CAST(len(list_intersect(ga.grams, gb.grams)) AS DOUBLE)
          / len(list_distinct(ga.grams || gb.grams)) >= 0.4
    """,
)
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup cascade (candidates -> exact n-gram
    Jaccard verify >= 0.4) in the ORACLE-REPRODUCIBLE sha256 form
    (minhash_sha_candidates: k=32 LCG-universal-hash permutations over
    sha256 gram hashes, b=16 x r=2 banding, packed-bigint band keys,
    id-sorted bucket truncation) — upgraded from rows-only in round 3,
    completing the LSH family: every dedup tier (exact, min-gram,
    simhash, minhash) is now hash-matched cross-engine.

    Truncation observability (round 5): the band-bucket truncation is
    the cascade's only silent recall loss, so the query attaches an
    Observation to the candidate generator — counters (truncated
    buckets, dropped members/pairs, max bucket size) accumulate during
    the driver's own action at zero extra cost and are exposed on the
    returned DataFrame as ``lsh_observation`` (read ``.get`` after the
    action; tests/test_northstar.py plants a mega-bucket and checks
    the loss is reported). The attribute lives on THIS DataFrame
    object only — any wrapping transformation returns a new frame
    without it (the driver contract allows returning only a
    DataFrame, so a typed (df, observation) pair is not an option
    here; operator-level callers should use the ``observation=``
    parameter directly and own the object)."""
    from pyspark.sql import Observation

    d = load_table(spark, sf_dir, "documents")
    obs = Observation("minhash_truncation")
    cands = minhash_sha_candidates(d, observation=obs)
    verified = ngram_jaccard_pairs(d, cands.select("id_a", "id_b"), n=3)
    out = verified.where(F.col("jaccard") >= 0.4).select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )
    out.lsh_observation = obs
    return out


@query(
    "q_dedup_simhash",
    oracle=r"""
    WITH t AS (
      SELECT doc_id, regexp_extract_all(text, '\S+') AS toks
      FROM documents
    ), nz AS (
      SELECT doc_id, list_transform(toks, t -> substr(sha256(t), 1, 16)) AS hs
      FROM t WHERE len(toks) > 0
    ), bs AS (
      SELECT doc_id, len(hs) AS n,
             list_transform(range(0, 64), p ->
               list_sum(list_transform(hs, s ->
                 ((CAST(instr('0123456789abcdef', substr(s, p // 4 + 1, 1)) AS INT) - 1)
                  >> (3 - CAST(p % 4 AS INT))) & 1))) AS bitsum
      FROM nz
    ), sb AS (
      SELECT doc_id,
             list_transform(range(0, 64), p ->
               CASE WHEN 2 * bitsum[p + 1] >= n THEN 1 ELSE 0 END) AS simbits
      FROM bs
    ), bv AS (
      SELECT doc_id,
             list_transform(range(0, 4), b ->
               CAST(list_sum(list_transform(range(0, 16), j ->
                 simbits[b * 16 + j + 1] << (15 - CAST(j AS INT)))) AS INT)) AS bvals
      FROM sb
    ), banded AS (
      SELECT doc_id, bvals, u.b AS band_idx, bvals[u.b + 1] AS band_val
      FROM bv CROSS JOIN (SELECT unnest(range(4)) AS b) u
    ), ranked AS (
      SELECT *, row_number() OVER (PARTITION BY band_idx, band_val ORDER BY doc_id) AS rn
      FROM banded
    ), k AS (SELECT * FROM ranked WHERE rn <= 64)
    SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b,
           CAST(list_sum(list_transform(range(1, 5), i ->
             bit_count(xor(a.bvals[i], c.bvals[i])))) AS BIGINT) AS hamming
    FROM k a JOIN k c
      ON a.band_idx = c.band_idx AND a.band_val = c.band_val AND a.doc_id < c.doc_id
    WHERE list_sum(list_transform(range(1, 5), i ->
            bit_count(xor(a.bvals[i], c.bvals[i])))) <= 3
    """,
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded-SimHash near-dup candidate pairs (hamming <= 3) in the
    oracle-reproducible sha256 form (simhash_sha_candidates): the
    signature, banding, bucket truncation, and hamming verify are all
    exact integer/hex arithmetic the DuckDB oracle replays — upgraded
    from rows-only in round 3, the same path q_dedup_ngram took."""
    d = load_table(spark, sf_dir, "documents")
    return simhash_sha_candidates(d, max_hamming=3)


def _ann_staged_index(spark: SparkSession, sf_dir: str) -> IVFPQIndex:
    """The q_similarity_ann IVF-PQ index, staged once per (session,
    sf_dir, embeddings mtime) — the q_join_inner ``_bucketed_facts``
    precedent (round 18, VERDICT r17 item 3). The index is a trained
    LAYOUT of the input table (coarse quantizer + PQ codebooks +
    coded assignment), rebuilt from the parquet inputs in every new
    session/process — the cold pass still pays the KMeans sample
    collect, both trainings, and the encode pass end-to-end; warm
    repeats stop re-training an identical index per call (driver-side
    KMeans was the roster's most scalar-bound per-rep cost). A
    regenerated fixture (new mtime) or a different sf_dir re-stages
    and releases the stale pin; the WeakKeyDictionary dies with the
    session."""
    import os

    from snapflow_spark.catalog import table_path

    per = _ANN_INDEX_CACHE.setdefault(spark, {})
    try:
        mt = os.path.getmtime(table_path(sf_dir, "embeddings"))
    except OSError:
        mt = -1.0
    key = (sf_dir, mt)
    idx = per.get(key)
    if idx is None:
        for old in per.values():  # release stale stagings (other sf /
            old.coded.unpersist()  # regenerated fixture)
        per.clear()
        emb = load_table(spark, sf_dir, "embeddings")
        idx = IVFPQIndex.build(emb, k_cells=16, m=4, n_codes=32)
        idx.coded = idx.coded.persist()
        per[key] = idx
    else:
        from pyspark import StorageLevel

        # re-assert the intra-query pin if a catalog clearCache dropped
        # it (bench reps do): both search tiers + the re-rank consume
        # the coded table within ONE execution — the same bounded
        # intra-query persist the per-call form always took
        if idx.coded.storageLevel == StorageLevel.NONE:
            idx.coded = idx.coded.persist()
    return idx


@query("q_similarity_ann")  # rows-only: IVF approximate search
def q_similarity_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tagged union (round 4; restructured round 5) of the two ANN
    tiers over ONE shared IVFPQIndex — rows-only by design (KMeans
    cells have no SQL oracle; recall property-tested against brute
    force in pytest):
    - 'ivf': IVF-flat approximate top-5 for 3 probes (nprobe=4 of 16)
      — exact cosines within probed cells.
    - 'ivfpq': the FAISS-shaped IVF-PQ cascade: same cell pruning, ADC
      scan over the STORED m-byte code column (the 64x memory path),
      exact re-rank of rerank_factor*k survivors.

    One training-sample collect feeds both the coarse quantizer and
    the PQ codebooks, and assign+encode is a single pass over the
    corpus; the coded table is persisted so both branches (and the
    re-rank) read one materialization instead of re-running the
    assignment/encode UDF chain per branch (the round-4 shape rebuilt
    the index per branch — measured ~2x the warm time). Round 18: the
    whole trained index is STAGED per (session, sf_dir, mtime) — the
    standing-index production shape this query models (FAISS indexes
    are built once and searched many times); each call still collects
    its probes and runs both searches end-to-end."""
    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.where(F.col("vec_id").isin(0, 1, 2)).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    idx = _ann_staged_index(spark, sf_dir)
    rows = probes.collect()  # ONE probe collect shared by both tiers
    flat = idx.search_flat(probes, k=5, nprobe=4, probe_rows=rows).select(
        F.lit("ivf").alias("branch"), "probe_id", "vec_id",
        F.round("cos", 6).alias("cos"),
    )
    pq_hits = idx.search(probes, k=5, nprobe=4, probe_rows=rows).select(
        F.lit("ivfpq").alias("branch"), "probe_id", "vec_id",
        F.round("cos", 6).alias("cos"),
    )
    return flat.unionByName(pq_hits)


_PLANT = 60  # planted near-dup copies; detected pairs ≈ this count
_PLANT_OFFSET = 1_000_000

# q_similarity_ann's staged-index cache, keyed by SparkSession via
# weak references (round 6; widened to the whole trained index per
# (sf_dir, mtime) in round 18): two sessions in one process never
# unpersist each other's coded table, a re-staging (new sf_dir or
# regenerated fixture) releases the previous pin, and a session's
# final pinned table is dropped with the session object instead of
# leaking until process end.
_ANN_INDEX_CACHE: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


@query(
    "q_embed_near_dup",
    oracle="""
    WITH planted AS (
      SELECT vec_id + 1000000 AS vec_id,
             list_transform(range(1, len(embedding) + 1),
               i -> CASE WHEN (i - 1) % 37 = 0 THEN -embedding[i]
                         ELSE embedding[i] END) AS embedding
      FROM embeddings WHERE vec_id < 60
    ), corpus AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
      UNION ALL
      SELECT vec_id, CAST(embedding AS DOUBLE[]) FROM planted
    ), qv AS (
      SELECT vec_id,
             list_transform(emb, x -> CAST(floor(x * 1000) AS BIGINT)) AS q
      FROM corpus
    ), wt0 AS (
      SELECT t.b, t2.j, t3.i0,
             (t3.i0 * 48 + t.b * 6 + t2.j) * 2654435761 % 4294967296 AS h1
      FROM range(8) t(b) CROSS JOIN range(6) t2(j) CROSS JOIN range(64) t3(i0)
    ), wt1 AS (SELECT *, xor(h1, h1 >> 15) % 2147483648 AS h2 FROM wt0
    ), wt2 AS (SELECT *, h2 * 2246822519 % 4294967296 AS h3 FROM wt1
    ), wt3 AS (
      SELECT b, j, i0,
             CASE WHEN xor(h3, h3 >> 13) % 2 = 0 THEN 1 ELSE -1 END AS w
      FROM wt2
    ), wt AS (SELECT b, j, list(w ORDER BY i0) AS wl FROM wt3 GROUP BY b, j
    ), bits AS (
      SELECT qv.vec_id, wt.b, wt.j,
             CASE WHEN list_sum(list_transform(range(1, 65), i -> q[i] * wl[i])) >= 0
                  THEN 1 << wt.j ELSE 0 END AS bv
      FROM qv CROSS JOIN wt
    ), banded AS (
      SELECT vec_id, b AS band_idx, SUM(bv) AS band_val FROM bits GROUP BY 1, 2
    ), ranked AS (
      SELECT banded.*, corpus.emb,
             row_number() OVER (PARTITION BY band_idx, band_val ORDER BY vec_id) AS rn
      FROM banded JOIN corpus USING (vec_id)
    ), k AS (SELECT * FROM ranked WHERE rn <= 128)
    SELECT DISTINCT a.vec_id AS id_a, c.vec_id AS id_b,
           round(list_cosine_similarity(a.emb, c.emb), 6) AS cos
    FROM k a JOIN k c ON a.band_idx = c.band_idx AND a.band_val = c.band_val
                     AND a.vec_id < c.vec_id
    WHERE list_cosine_similarity(a.emb, c.emb) >= 0.9
    """,
)
def q_embed_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cos >= 0.9) via SRP-LSH
    in the oracle-reproducible INTEGER form (embedding_near_dup_pairs_int:
    ±1 LCG hyperplanes over floor(x*1000)-quantized vectors, 8 bands x
    6 bits, exact in-bucket cosine verify) — upgraded from rows-only
    in round 3.

    The synthetic embeddings table has NO natural near-dups (max
    pairwise cos ≈ 0.5-0.6 at sf0.01/0.1), which made this query's
    r1 driver row an empty result — true but evidence-free. The query
    therefore PLANTS deterministic near-dups first: the first _PLANT
    vectors get a copy (vec_id + 1e6) with every 37th dimension
    sign-flipped — cos(v, copy) = 1 - 2*2/64 ≈ 0.94 for unit-ish
    64-dim vectors — and the LSH cascade must find exactly those
    pairs. Recall vs the exact ground truth is pinned in pytest, and
    the DuckDB oracle replays planting, quantization, banding,
    truncation, and the cosine verify exactly."""
    emb = load_table(spark, sf_dir, "embeddings")
    flipped = F.transform(
        "embedding", lambda x, i: F.when(i % 37 == 0, -x).otherwise(x)
    )
    planted = emb.where(F.col("vec_id") < _PLANT).select(
        (F.col("vec_id") + _PLANT_OFFSET).alias("vec_id"),
        flipped.alias("embedding"),
    )
    corpus = emb.select("vec_id", "embedding").unionByName(planted)
    return embedding_near_dup_pairs_int(corpus, cos_threshold=0.9).select(
        "id_a", "id_b", F.round("cos", 6).alias("cos")
    )


@query("q_multimodal_features")  # rows-only: no SQL oracle for image decode
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal pipeline end-to-end on REAL encoded images: text ->
    deterministic PPM/BMP/PNG blob + metadata struct -> fused
    decode+featurize mapInPandas stage -> per-channel pixel statistics
    (multimodal.codec is pure-numpy PPM/PGM/BMP plus a stdlib-zlib
    PNG codec; features verified against the numpy reference in
    tests/test_northstar.py)."""
    d = load_table(spark, sf_dir, "documents").limit(200)
    blobs = attach_image_blob(d)
    feats = extract_features(blobs)
    return feats.select(
        "doc_id", "modality", F.size("features").alias("dim"),
        F.round(F.element_at("features", 1), 6).alias("f0"),
    )


# 60-bit sha256 unit-interval fold, UNROLLED for DuckDB: lambdas there
# cannot bind unnest-derived columns (internal binder error), so the
# mix oracle splices this generated 15-term sum instead of
# list_transform. Mirrors operators.mixing._unit_hash exactly.
_MIX_UNIT_FOLD = "(" + " + ".join(
    f"((CAST(instr('0123456789abcdef', substr(h, {k + 1}, 1)) AS BIGINT) - 1)"
    f" << {4 * (14 - k)})"
    for k in range(15)
) + ")"


@query(
    "q_pipeline_docs",
    oracle=r"""
    WITH dedup AS (
      SELECT MIN(doc_id) AS doc_id
      FROM documents
      GROUP BY sha256(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))
    ), gated AS (
      SELECT d.*
      FROM documents d JOIN dedup USING (doc_id)
      WHERE d.n_chars >= 80
        AND len(regexp_extract_all(d.text, '\S+')) >= 15
    ), capped AS (
      SELECT * FROM (
        SELECT g.*, row_number() OVER (
          PARTITION BY source
          ORDER BY sha256('cap-v1' || CAST(doc_id AS VARCHAR)), doc_id) AS cap_rn
        FROM gated g
      ) WHERE cap_rn <= 18
    ), kept AS (
      SELECT c.* EXCLUDE (cap_rn),
             len(regexp_extract_all(c.text, '\S+')) AS n_toks,
             CASE WHEN CAST(list_sum(list_transform(range(0, 8), j ->
                    (CAST(instr('0123456789abcdef',
                          substr(sha256('split-v1' || CAST(c.doc_id AS VARCHAR)), j + 1, 1))
                     AS BIGINT) - 1) << (4 * (7 - CAST(j AS INT))))) AS BIGINT)
                  % 10000 < 1000
                  THEN 'test' ELSE 'train' END AS split
      FROM capped c
    ), packed AS (
      SELECT lang, doc_id, n_toks,
             SUM(n_toks) OVER (PARTITION BY lang ORDER BY doc_id) - n_toks AS cstart
      FROM kept WHERE split = 'train'
    ), pagg AS (
      SELECT lang,
             COUNT(DISTINCT cstart // 2048) AS n_chunks,
             CAST(SUM(CASE WHEN n_toks > 0
                            AND (cstart + n_toks - 1) // 2048 > cstart // 2048
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_spanning
      FROM packed GROUP BY lang
    ), bagg AS (
      SELECT lang,
             COUNT(*) AS n_docs,
             CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
             CAST(MIN(doc_id) AS BIGINT) AS first_doc,
             CAST(SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
             CAST(SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT) AS n_test
      FROM kept GROUP BY lang
    )
    SELECT 'pipeline' AS branch,
           b.lang, b.n_docs, b.total_tokens, b.first_doc, b.n_train, b.n_test,
           COALESCE(p.n_chunks, 0) AS n_chunks,
           COALESCE(p.n_spanning, 0) AS n_spanning
    FROM bagg b LEFT JOIN pagg p USING (lang)
    UNION ALL
    -- 'mix' branch (round 8): dataset mixing replayed end-to-end —
    -- budget = total corpus tokens, weights en:5 rest:1, ratio =
    -- target/have in the same IEEE double expressions, whole epochs
    -- replicated via unnest(range(floor(ratio)+1)), the fractional
    -- epoch selected by the 60-bit sha256(salt|epoch|id) unit
    -- predicate. n_train = epoch-0 instances, n_test = repeats,
    -- n_chunks = epochs used.
    SELECT 'mix' AS branch, mix_source AS lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc,
           CAST(SUM(CASE WHEN epoch = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
           CAST(SUM(CASE WHEN epoch > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_test,
           CAST(MAX(epoch) + 1 AS BIGINT) AS n_chunks,
           CAST(0 AS BIGINT) AS n_spanning
    FROM (
      WITH mix_src AS (
        SELECT doc_id,
               CASE WHEN lang = 'en' THEN 'en' ELSE 'rest' END AS mix_source,
               len(regexp_extract_all(text, '\S+')) AS n_toks
        FROM documents
      ), mix_ratio AS (
        SELECT mix_source,
               ((SELECT CAST(CAST(SUM(n_toks) AS BIGINT) AS DOUBLE) FROM mix_src)
                * CASE WHEN mix_source = 'en' THEN 5.0 ELSE 1.0 END / 6.0)
               / CAST(SUM(n_toks) AS DOUBLE) AS ratio
        FROM mix_src GROUP BY mix_source
      ), mix_epochs AS (
        -- static 0..31 relation (margin over max_epochs=20): DuckDB's
        -- binder loses an unnest-derived column once it flows through
        -- later filters (internal error), so the epoch fan-out is an
        -- UNCORRELATED cross join filtered by floor(ratio) instead of
        -- a correlated range() unnest
        SELECT unnest(range(0, 32)) AS epoch
      ), mix_exp AS (
        SELECT s.doc_id, s.mix_source, s.n_toks, r.ratio, e.epoch
        FROM mix_src s
        JOIN mix_ratio r USING (mix_source)
        CROSS JOIN mix_epochs e
        WHERE e.epoch <= CAST(floor(r.ratio) AS BIGINT)
      ), mix_h AS (
        SELECT *,
               sha256('mix-v1' || '|' || CAST(epoch AS VARCHAR)
                      || '|' || CAST(doc_id AS VARCHAR)) AS h
        FROM mix_exp
      ), mix_unit AS (
        SELECT *,
               CAST("""
    + _MIX_UNIT_FOLD
    + r""" AS DOUBLE)
               / 1152921504606846976.0 AS unit
        FROM mix_h
      )
      SELECT * FROM mix_unit
      WHERE epoch < CAST(floor(ratio) AS BIGINT)
         OR (epoch = CAST(floor(ratio) AS BIGINT)
             AND unit < ratio - floor(ratio))
    ) sel
    GROUP BY mix_source
    UNION ALL
    -- 'langmix' branch (round 11): XLM temperature balancing
    -- (language_balanced_mix alpha=0.3) replayed end-to-end. Weight
    -- arithmetic mirrors the operator's round-11 bit-stability
    -- contract: per-lang integer totals (exact doubles), p^alpha via
    -- pow() (python ** and DuckDB pow bind the same libm on the
    -- driver host — verified 0/20000 ulp mismatches), and every
    -- float fold nested in SORTED-lang order exactly as the python
    -- driver folds its sorted dicts; budget = grand, then
    -- mix_corpora's ((budget·w)/Σw)/have ratio and the sha256
    -- unit predicate, same shapes as the 'mix' branch.
    SELECT 'langmix' AS branch, mix_source AS lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc,
           CAST(SUM(CASE WHEN epoch = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
           CAST(SUM(CASE WHEN epoch > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_test,
           CAST(MAX(epoch) + 1 AS BIGINT) AS n_chunks,
           CAST(0 AS BIGINT) AS n_spanning
    FROM (
      WITH lx_src AS (
        SELECT doc_id, lang AS mix_source,
               len(regexp_extract_all(text, '\S+')) AS n_toks
        FROM documents WHERE lang IS NOT NULL
      ), lx_tot AS (
        SELECT mix_source, CAST(SUM(n_toks) AS BIGINT) AS t
        FROM lx_src GROUP BY mix_source
      ), lx_piv AS (
        SELECT CAST(MAX(CASE WHEN mix_source = 'de' THEN t END) AS DOUBLE) AS t_de,
               CAST(MAX(CASE WHEN mix_source = 'en' THEN t END) AS DOUBLE) AS t_en,
               CAST(MAX(CASE WHEN mix_source = 'es' THEN t END) AS DOUBLE) AS t_es,
               CAST(MAX(CASE WHEN mix_source = 'fr' THEN t END) AS DOUBLE) AS t_fr,
               CAST(MAX(CASE WHEN mix_source = 'zh' THEN t END) AS DOUBLE) AS t_zh,
               CAST(SUM(t) AS DOUBLE) AS grand
        FROM lx_tot
      ), lx_q AS (
        SELECT *,
               pow(t_de / grand, 0.3) AS q_de,
               pow(t_en / grand, 0.3) AS q_en,
               pow(t_es / grand, 0.3) AS q_es,
               pow(t_fr / grand, 0.3) AS q_fr,
               pow(t_zh / grand, 0.3) AS q_zh
        FROM lx_piv
      ), lx_z AS (
        SELECT *, ((((q_de + q_en) + q_es) + q_fr) + q_zh) AS z FROM lx_q
      ), lx_w AS (
        SELECT *, q_de / z AS w_de, q_en / z AS w_en, q_es / z AS w_es,
               q_fr / z AS w_fr, q_zh / z AS w_zh
        FROM lx_z
      ), lx_tw AS (
        SELECT *, ((((w_de + w_en) + w_es) + w_fr) + w_zh) AS total_w
        FROM lx_w
      ), lx_ratio AS (
        SELECT o.mix_source, o.t,
               ((p.grand * (CASE o.mix_source
                            WHEN 'de' THEN p.w_de WHEN 'en' THEN p.w_en
                            WHEN 'es' THEN p.w_es WHEN 'fr' THEN p.w_fr
                            WHEN 'zh' THEN p.w_zh END)) / p.total_w)
                 / CAST(o.t AS DOUBLE) AS ratio
        FROM lx_tot o CROSS JOIN lx_tw p
      ), lx_epochs AS (
        SELECT unnest(range(0, 32)) AS epoch
      ), lx_exp AS (
        SELECT s.doc_id, s.mix_source, s.n_toks, r.ratio, e.epoch
        FROM lx_src s
        JOIN lx_ratio r USING (mix_source)
        CROSS JOIN lx_epochs e
        WHERE e.epoch <= CAST(floor(r.ratio) AS BIGINT)
      ), lx_h AS (
        SELECT *,
               sha256('langmix-v1' || '|' || CAST(epoch AS VARCHAR)
                      || '|' || CAST(doc_id AS VARCHAR)) AS h
        FROM lx_exp
      ), lx_unit AS (
        SELECT *,
               CAST("""
    + _MIX_UNIT_FOLD
    + r""" AS DOUBLE)
               / 1152921504606846976.0 AS unit
        FROM lx_h
      )
      SELECT * FROM lx_unit
      WHERE epoch < CAST(floor(ratio) AS BIGINT)
         OR (epoch = CAST(floor(ratio) AS BIGINT)
             AND unit < ratio - floor(ratio))
    ) sel
    GROUP BY mix_source
    UNION ALL
    -- 'chunk' branch (round 11): overlapping token-window chunking
    -- (operators.curation.chunk_text, max_tokens=24 overlap=8) is
    -- pure window arithmetic — the oracle replays starts/slices/
    -- re-joins exactly. Column mapping: total_tokens = window-token
    -- mass (overlap double-counts BY DESIGN), n_train = full
    -- windows, n_test = chunk_text char mass (verifies the joined
    -- strings), n_chunks = windows, n_spanning = continuation
    -- windows (chunk_idx > 0). Epoch fan-out is the uncorrelated
    -- static-range cross join (the round-8 unnest binder trap).
    SELECT 'chunk' AS branch, lang,
           COUNT(DISTINCT doc_id) AS n_docs,
           CAST(SUM(chunk_n_tokens) AS BIGINT) AS total_tokens,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc,
           CAST(SUM(CASE WHEN chunk_n_tokens = 24 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_train,
           CAST(SUM(length(chunk_text)) AS BIGINT) AS n_test,
           COUNT(*) AS n_chunks,
           CAST(SUM(CASE WHEN chunk_idx > 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_spanning
    FROM (
      WITH ctoks AS (
        SELECT doc_id, lang,
               regexp_extract_all(text, '\S+') AS toks
        FROM documents
      ), cwin AS (
        SELECT doc_id, lang, toks,
               greatest(CAST(ceil((len(toks) - 8) / 16.0) AS BIGINT),
                        1) AS nw
        FROM ctoks
      ), cidx AS (
        SELECT unnest(range(0, 16)) AS chunk_idx
      ), cexp AS (
        SELECT w.doc_id, w.lang, w.toks, c.chunk_idx
        FROM cwin w CROSS JOIN cidx c WHERE c.chunk_idx < w.nw
      )
      SELECT doc_id, lang, chunk_idx,
             array_to_string(list_slice(toks, chunk_idx*16 + 1,
                                        chunk_idx*16 + 24),
                             ' ') AS chunk_text,
             len(list_slice(toks, chunk_idx*16 + 1,
                            chunk_idx*16 + 24)) AS chunk_n_tokens
      FROM cexp
    ) ch
    GROUP BY lang
    """,
)
def q_pipeline_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus curation — the composed north-star pipeline:
    exact dedup (keep min doc_id per normalized fingerprint) -> quality
    gate (length + token floor) -> per-domain anti-domination cap
    (cap_per_domain, ≤18 docs per source in sha256 order — round 4) ->
    deterministic sha256 train/test split
    (operators.curation.split_by_hash, stable across engines and
    backfills) -> per-language sequence packing of the train split
    into 2048-token contexts (pack_sequences: concat-and-chunk, the
    pretraining-loader layout; the ONE window runs per lang, never
    globally) -> per-language stats incl. context counts and how many
    documents span a context boundary. One dedup shuffle, one window
    shuffle each on source and lang, one agg shuffle."""
    d = load_table(spark, sf_dir, "documents")
    keep = exact_dedup(d, text_col="text", id_col="doc_id").select("doc_id")
    gated = d.join(keep, "doc_id", "left_semi").where(
        (F.col("n_chars") >= 80) & (token_count_expr("text") >= 15)
    )
    # anti-domination cap (round 4): at most 18 survivors per source,
    # hash-ordered (operators.curation.cap_per_domain) — the oracle
    # replays the same sha256 selection order
    capped = cap_per_domain(gated, cap=18, domain_col="source")
    kept = split_by_hash(
        capped.withColumn("n_toks", token_count_expr("text")),
        test_frac=0.1,
    )
    packed = pack_sequences(
        kept.where(F.col("split") == "train"),
        budget=2048,
        token_col="n_toks",
        partition_col="lang",
    )
    bagg = kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("n_toks").cast("bigint")).alias("total_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.sum(F.when(F.col("split") == "train", 1).otherwise(0))
        .cast("bigint")
        .alias("n_train"),
        F.sum(F.when(F.col("split") == "test", 1).otherwise(0))
        .cast("bigint")
        .alias("n_test"),
    )
    pagg = packed.groupBy("lang").agg(
        F.countDistinct("chunk_id").alias("n_chunks"),
        F.sum(F.col("chunk_spans").cast("int")).cast("bigint").alias("n_spanning"),
    )
    pipeline = bagg.join(pagg, "lang", "left").select(
        F.lit("pipeline").alias("branch"),
        "lang",
        "n_docs",
        "total_tokens",
        "first_doc",
        "n_train",
        "n_test",
        F.coalesce("n_chunks", F.lit(0)).alias("n_chunks"),
        F.coalesce("n_spanning", F.lit(0)).alias("n_spanning"),
    )
    # 'mix' branch (round 8): the Pile/Dolma dataset-mixing step
    # (operators.mixing.mix_corpora) as a hash-matched row — two
    # corpora (en vs rest), weights 5:1, budget = total corpus tokens,
    # so en UP-samples (~2 full epochs + a fraction) and rest
    # DOWN-samples (~0.28), exercising both paths. All arithmetic is
    # IEEE-replayable: integer token sums are exact doubles, the
    # sha256(salt|epoch|id) 60-bit unit-interval predicate is the
    # engine's standard construction, and the oracle recomputes
    # budget/ratio/epochs from the same expressions. Column mapping
    # into the shared schema: n_train = epoch-0 instances, n_test =
    # repeat instances (epoch > 0), n_chunks = epochs used.
    from snapflow_spark.operators.mixing import mix_corpora

    toks = d.select(
        "doc_id",
        F.when(F.col("lang") == "en", "en").otherwise("rest").alias("mix_source0"),
        token_count_expr("text").alias("n_toks"),
    )
    # ONE construction-time job for BOTH mixing branches (round 17,
    # guide §1.2): a single per-LANGUAGE token-total collect serves
    # the 'mix' en/rest split (en = t_en, rest = every other group
    # including NULL-lang — integer sums, so the regrouped totals are
    # exactly what the old per-branch aggregates produced) and, via
    # the operators' `totals=` convention, the 'langmix' temperature
    # weights (non-NULL groups only, the rows that branch can select).
    # Previously each branch ran its own construction-time collect.
    per_lang = (
        d.groupBy("lang")
        .agg(F.sum(token_count_expr("text")).alias("t"))
        .collect()
    )
    totals = {"en": 0, "rest": 0}
    lang_totals: dict[str, int] = {}
    for r in per_lang:
        t = int(r.t or 0)
        totals["en" if r.lang == "en" else "rest"] += t
        if r.lang is not None:
            lang_totals[r.lang] = t
    budget = sum(totals.values())
    mixed = mix_corpora(
        {
            "en": toks.where(F.col("mix_source0") == "en").drop("mix_source0"),
            "rest": toks.where(F.col("mix_source0") == "rest").drop("mix_source0"),
        },
        {"en": 5.0, "rest": 1.0},
        token_budget=budget,
        token_col="n_toks",
        totals=totals,
    )
    mixb = mixed.groupBy("mix_source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("n_toks").cast("bigint")).alias("total_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.sum(F.when(F.col("epoch") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_train"),
        F.sum(F.when(F.col("epoch") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_test"),
        (F.max("epoch") + 1).cast("bigint").alias("n_chunks"),
    ).select(
        F.lit("mix").alias("branch"),
        F.col("mix_source").alias("lang"),
        "n_docs",
        "total_tokens",
        "first_doc",
        "n_train",
        "n_test",
        "n_chunks",
        F.lit(0).cast("bigint").alias("n_spanning"),
    )
    # 'chunk' branch (round 11): overlapping token-window document
    # chunking (operators.curation.chunk_text — pure codegen) as a
    # hash-matched row; the oracle replays the window arithmetic and
    # the re-joined window STRINGS (char mass in the n_test slot).
    from snapflow_spark.operators.curation import chunk_text

    ch = chunk_text(
        d.select("doc_id", "lang", "text"), max_tokens=24, overlap=8
    )
    chb = ch.groupBy("lang").agg(
        # every doc emits exactly ONE chunk_idx=0 window (empty docs
        # included), so this is countDistinct(doc_id) without the
        # distinct's expand + second exchange
        F.sum(F.when(F.col("chunk_idx") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_docs"),
        F.sum(F.col("chunk_n_tokens").cast("bigint")).alias("total_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.sum(F.when(F.col("chunk_n_tokens") == 24, 1).otherwise(0))
        .cast("bigint")
        .alias("n_train"),
        F.sum(F.length("chunk_text").cast("bigint")).alias("n_test"),
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(F.when(F.col("chunk_idx") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_spanning"),
    ).select(
        F.lit("chunk").alias("branch"),
        "lang",
        "n_docs",
        "total_tokens",
        "first_doc",
        "n_train",
        "n_test",
        "n_chunks",
        "n_spanning",
    )
    # 'langmix' branch (round 11): XLM temperature balancing
    # (operators.mixing.language_balanced_mix, alpha=0.3) hash-matched
    # end-to-end — per-lang integer token totals (exact doubles),
    # p^alpha weights folded in SORTED-lang order (the operator's
    # round-11 bit-stability contract), then mix_corpora's
    # budget/ratio/epoch arithmetic and sha256 unit predicate, all
    # replayed in DuckDB.  pow() parity between the engines holds
    # because both bind the same libm on the driver host (verified:
    # 0/20000 ulp mismatches); the oracle pins the identical nesting.
    from snapflow_spark.operators.mixing import language_balanced_mix

    lmix = language_balanced_mix(
        d.select("doc_id", "lang", token_count_expr("text").alias("n_toks")),
        token_budget=budget,
        alpha=0.3,
        token_col="n_toks",
        totals=lang_totals,  # from the fused per-lang collect above
    )
    lmixb = lmix.groupBy("mix_source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("n_toks").cast("bigint")).alias("total_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.sum(F.when(F.col("epoch") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_train"),
        F.sum(F.when(F.col("epoch") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_test"),
        (F.max("epoch") + 1).cast("bigint").alias("n_chunks"),
    ).select(
        F.lit("langmix").alias("branch"),
        F.col("mix_source").alias("lang"),
        "n_docs",
        "total_tokens",
        "first_doc",
        "n_train",
        "n_test",
        "n_chunks",
        F.lit(0).cast("bigint").alias("n_spanning"),
    )
    return (
        pipeline.unionByName(mixb).unionByName(chb).unionByName(lmixb)
    )


@query(
    "q_dedup_ngram",
    oracle=r"""
    WITH t AS (
      SELECT doc_id, regexp_extract_all(text, '\S+') AS toks FROM documents
    ), g AS (
      SELECT doc_id,
             list_distinct(
               CASE WHEN len(toks) >= 3
                    THEN list_transform(range(1, len(toks) - 1),
                         i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
                    ELSE [array_to_string(toks, ' ')] END) AS grams
      FROM t
    ), k AS (
      SELECT doc_id, grams,
             list_min(list_transform(grams, x -> sha256(x))) AS blk
      FROM g
    ), m AS (
      SELECT *, row_number() OVER (PARTITION BY blk ORDER BY doc_id) AS rn FROM k
    ), b AS (
      SELECT * FROM m WHERE rn <= 64
    )
    SELECT a.doc_id AS id_a, c.doc_id AS id_b,
           round(CAST(len(list_intersect(a.grams, c.grams)) AS DOUBLE)
                 / len(list_distinct(a.grams || c.grams)), 6) AS jaccard
    FROM b a JOIN b c ON a.blk = c.blk AND a.doc_id < c.doc_id
    """,
)
def q_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard over min-gram-blocked candidates
    (operators.dedup_text.mingram_candidates — a 1-permutation MinHash
    whose sha256 block key a SQL oracle reproduces exactly): the full
    candidates -> verify cascade in the scale-shaped form. Candidates
    come from ONE shuffle on the block key with bounded in-block pairs
    (max_bucket=64, id-sorted — the oracle replays the truncation with
    row_number), never an all-pairs join; the verify stage semi-joins
    the corpus down to candidate members before computing grams."""
    d = load_table(spark, sf_dir, "documents")
    cands = mingram_candidates(d, n=3, max_bucket=64)
    out = ngram_jaccard_pairs(d, cands, n=3)
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


# ground-truth slice bound (pushdown-pruned scan) and the cell-blocking
# shape: 4 bands x 2 sign bits from INTEGER-quantized random
# projections. Integer arithmetic makes the cell assignment
# bit-identical across engines (float dot products near zero could
# flip a sign bit between Spark's and DuckDB's summation), so the
# DuckDB oracle replays the blocking exactly, min-gram style.
_EXACT_SLICE = 300
_CELL_BANDS = 4
_CELL_MAX_BUCKET = 128


def _cell_weight(i: F.Column, plane) -> F.Column:
    """Deterministic ±1 hyperplane weight for (0-based dim i, plane):
    an LCG hash both engines evaluate in exact integer arithmetic."""
    h = (
        F.lit(1103515245).cast("long") * (i * 8 + F.lit(plane)).cast("long")
        + F.lit(12345)
    ) % F.lit(2147483648)
    return F.when(h < F.lit(1073741824), F.lit(1)).otherwise(F.lit(-1))


def _cell_bit(qv: F.Column, plane) -> F.Column:
    """Sign bit of the integer dot product <quantized vec, plane>.

    SCALAR REFERENCE for the vectorized ``_cell_bands_udf`` below —
    kept (with ``_cell_weight``) so the parity test can pin the numpy
    form value-for-value against the expression form the oracle SQL
    was written from."""
    dot = F.aggregate(
        F.zip_with(
            qv,
            F.transform(qv, lambda _, i: _cell_weight(i, plane)),
            lambda x, w: x * w,
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return F.when(dot >= 0, F.lit(1)).otherwise(F.lit(0))


@F.pandas_udf(ArrayType(IntegerType()))
def _cell_bands_udf(vecs: pd.Series) -> pd.Series:
    """All _CELL_BANDS band values per vector in one exact-int64 numpy
    pass: w[i, p] = ±1 from the same LCG as _cell_weight (operands stay
    < 2^63, and every input to % is non-negative, so numpy's % and
    Spark's sign-keeping % agree), bits = sign(q @ w), band value =
    2*bit(2b) + bit(2b+1) — bit-identical to the _cell_bit expression
    tier (parity-pinned in tests/test_northstar.py)."""
    import numpy as np

    m = np.vstack(vecs.to_numpy()).astype(np.float64)
    q = np.floor(m * 1000).astype(np.int64)
    dim = q.shape[1]
    i = np.arange(dim, dtype=np.int64)[:, None]
    p = np.arange(2 * _CELL_BANDS, dtype=np.int64)[None, :]
    h = (1103515245 * (i * 8 + p) + 12345) % 2147483648
    w = np.where(h < 1073741824, 1, -1).astype(np.int64)
    bits = ((q @ w) >= 0).astype(np.int64)  # (n, 2*_CELL_BANDS)
    vals = 2 * bits[:, 0::2] + bits[:, 1::2]
    return pd.Series(list(vals.astype(np.int32)))


@query(
    "q_embed_near_exact",
    oracle="""
    WITH sl AS (
      SELECT vec_id, embedding,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(floor(x * 1000) AS BIGINT)) AS qv
      FROM embeddings WHERE vec_id < 300
    ), banded AS (
      SELECT vec_id, embedding, t.band AS band_idx,
             2 * (CASE WHEN list_sum(list_transform(range(1, len(qv) + 1),
                    i -> qv[i] * (CASE WHEN (1103515245 * ((i-1)*8 + 2*t.band) + 12345)
                                            % 2147483648 < 1073741824
                                       THEN 1 ELSE -1 END))) >= 0 THEN 1 ELSE 0 END)
             + (CASE WHEN list_sum(list_transform(range(1, len(qv) + 1),
                    i -> qv[i] * (CASE WHEN (1103515245 * ((i-1)*8 + 2*t.band + 1) + 12345)
                                            % 2147483648 < 1073741824
                                       THEN 1 ELSE -1 END))) >= 0 THEN 1 ELSE 0 END) AS band_val
      FROM sl CROSS JOIN (SELECT unnest(range(4)) AS band) t
    ), ranked AS (
      SELECT *, row_number() OVER (PARTITION BY band_idx, band_val ORDER BY vec_id) AS rn
      FROM banded
    ), b AS (SELECT * FROM ranked WHERE rn <= 128)
    SELECT DISTINCT a.vec_id AS id_a, c.vec_id AS id_b,
           round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(c.embedding AS DOUBLE[])), 6) AS cos
    FROM b a JOIN b c
      ON a.band_idx = c.band_idx AND a.band_val = c.band_val AND a.vec_id < c.vec_id
    WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                 CAST(c.embedding AS DOUBLE[])) >= 0.2
    """,
)
def q_embed_near_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine pairs (cos >= 0.2) over a bounded slice, computed
    CELL-BLOCKED: each vector is assigned to 4 SRP band cells (2 sign
    bits per band over the integer-quantized vector, floor(x*1000)),
    exact cosine runs only within a cell via the shared one-shuffle
    bucketed_pairs shape — no nested-loop join anywhere in the plan.
    The declared semantics include the blocking (pairs must share a
    band cell; in-cell membership truncated id-sorted at 128), and the
    DuckDB oracle replays bands, truncation, and cosine exactly —
    integer quantization keeps the sign bits engine-independent.

    This is the ground-truth twin of q_embed_near_dup's SRP-LSH: same
    physical shape as the 100 TB path (signature -> one shuffle ->
    bounded in-bucket exact verify), demonstrated here at a slice
    where the oracle can afford the replay."""
    from snapflow_spark.operators.similarity import (
        _hoisted_cos_pair,
        _vec_member,
    )

    emb = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < _EXACT_SLICE)
    # Round 17: the 8 per-row sign-bit folds moved from interpreted
    # higher-order expressions (aggregate(zip_with(...)) per plane —
    # CodegenFallback, ~8 s of task CPU on 300 rows at sf0.1) into ONE
    # exact-int64 numpy matmul per Arrow batch (_cell_bands_udf; the
    # LCG weights and floor(x*1000) quantization are bit-identical —
    # pinned against the _cell_bit expression form in
    # tests/test_northstar.py). The repartition ahead of the stage is
    # gone for the same reason as embedding_near_dup_pairs_int: the banded
    # explode feeds bucketed_pairs' groupBy exchange, which
    # redistributes anyway. Norms are hoisted out of the pair loop
    # (_vec_member). Interleaved A/B: 1.69 s -> 0.93 s warm at sf0.1,
    # results value-identical.
    cell_bands = memo_fragment(
        ("northstar.cell_bands", "embedding"),
        lambda: _cell_bands_udf("embedding"),
    )
    banded = emb.select("vec_id", "embedding").select(
        F.col("vec_id").alias("id"),
        F.col("embedding").alias("__vec"),
        F.posexplode(cell_bands).alias("band_idx", "band_val"),
    )
    pairs = bucketed_pairs(
        banded,
        ["band_idx", "band_val"],
        _vec_member(),
        _hoisted_cos_pair("cos_raw"),
        max_bucket=_CELL_MAX_BUCKET,
    )
    return (
        pairs.where(F.col("cos_raw") >= 0.2)
        .dropDuplicates(["id_a", "id_b"])
        .select("id_a", "id_b", F.round("cos_raw", 6).alias("cos"))
    )
