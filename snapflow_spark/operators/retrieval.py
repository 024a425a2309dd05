"""Lexical retrieval over a document corpus (SURVEY.md §2.B.11):
inverted-index BM25 scoring and tokenizer-vocabulary building — the
search/inspection ops a training-data pipeline runs to audit what a
corpus contains (benchmark leakage probes, topical composition, vocab
coverage for tokenizer training).

Design for 100 TB:

- The inverted index is plain DataFrame algebra: ``explode`` tokens →
  ``groupBy(doc, term)`` for term frequencies (ONE shuffle, map-side
  combined). Document/term statistics are aggregates over it.
- Query sets are small by nature (a probe list, a benchmark suite), so
  the query terms BROADCAST and the postings join is a broadcast-hash
  join: the corpus-sized posting list never shuffles for a search.
- Scoring is exact integer/`ln` arithmetic over (tf, df, dl, N) —
  deterministic and replayable in any SQL engine, which is what makes
  BM25 a hash-matchable driver query while embedding ANN is not.
- Everything is whole-stage codegen: no UDF anywhere in the path.

Determinism contract (the cross-engine hash depends on it): ranking
orders by the score ROUNDED to 6 decimals with ``doc_id`` as the full
tie-break, so a last-ulp FP difference between engines can only
reorder docs whose rounded scores tie — and those tie-break on id.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from snapflow_spark.operators.topk import grouped_topk

# Word tokens = maximal letter runs of the lowercased text. The same
# `[\p{L}]+` class is RE2/Java-identical and already cross-engine
# proven by q_text_quality's oracle.
WORD_RE = r"[\p{L}]+"


def word_tokens_expr(col: str | Column) -> Column:
    if isinstance(col, str):
        from snapflow_spark.functions.fragments import memo_fragment

        return memo_fragment(
            ("retrieval.word_tokens", col),
            lambda: F.regexp_extract_all(
                F.lower(F.col(col)), F.lit(WORD_RE), 0
            ),
        )
    return F.regexp_extract_all(F.lower(col), F.lit(WORD_RE), 0)


def doc_terms(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, dl, term, tf) — inverted-index rows with the document
    length DENORMALIZED in: tokenize once, explode, group. ``dl`` is
    constant per doc so it rides through the groupBy as a key; the
    whole index is one explode + one shuffle (map-side combined), and
    scoring later needs no corpus-side join to fetch lengths."""
    toks = docs.select(
        F.col(id_col), word_tokens_expr(text_col).alias("__toks")
    ).withColumn("dl", F.size("__toks").cast("bigint"))
    return (
        toks.select(id_col, "dl", F.explode("__toks").alias("term"))
        .groupBy(id_col, "dl", "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )


def _query_terms(
    queries: DataFrame, query_id_col: str, query_text_col: str
) -> DataFrame:
    return queries.select(
        F.col(query_id_col), F.explode(word_tokens_expr(query_text_col)).alias("term")
    ).distinct()


def word_tokens_py(text: str) -> list[str]:
    """Pure-Python twin of ``word_tokens_expr``: maximal runs of
    Unicode LETTERS (category L*) of the lowercased text — exactly
    Java regex ``[\\p{L}]+`` (the class matches Unicode general
    category L). Python's ``re`` has no ``\\p{L}``, and ``[^\\W\\d_]``
    is NOT equivalent (Python ``\\w`` admits combining marks and
    letter-numbers), so the category test is explicit. Parity with
    the Spark expression is pinned in tests over multilingual input,
    and with DuckDB's regex property-tested over arbitrary ASSIGNED
    codepoints — codepoints newly assigned between the engines' own
    Unicode table versions (Java 13.0 / Python 14.0 / RE2 newer) can
    legitimately differ, a divergence that exists between Spark and
    any SQL oracle independent of this scanner."""
    import unicodedata

    out: list[str] = []
    cur: list[str] = []
    for ch in (text or "").lower():
        if unicodedata.category(ch).startswith("L"):
            cur.append(ch)
        elif cur:
            out.append("".join(cur))
            cur = []
    if cur:
        out.append("".join(cur))
    return out


def _query_terms_local(
    queries: DataFrame,
    query_id_col: str,
    query_text_col: str,
    queries_local: list[tuple] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Driver-materialized query terms: distinct (query_id, term)
    pairs plus the distinct term list, tokenized driver-side with
    ``word_tokens_py`` (pinned equal to the corpus-side Spark regex).
    Query sets are small by contract — they broadcast into every
    search join anyway — so resolving them locally (zero Spark jobs;
    only the collect of the tiny queries frame) keeps the SEARCH plan
    corpus-only: the per-run DAG carries two LocalTableScans instead
    of two distinct exchanges, and no blocking tokenize job runs per
    search (measured: an eager Spark-side distinct+collect cost ~0.5 s
    per invocation at local[32] — pure scheduler overhead).

    ``queries_local`` (round 18): the caller's own (id, text) pairs
    when the query set is a driver-side literal (the common ad-hoc
    probe shape) — skips even the tiny collect, which is still one
    Spark job per construction because createDataFrame frames
    materialize through an RDD."""
    spark = queries.sparkSession
    pid_type = queries.schema[query_id_col].dataType.simpleString()
    rows = (
        queries_local
        if queries_local is not None
        else queries.select(query_id_col, query_text_col).collect()
    )
    pairs = {
        (r[0], t)
        for r in rows
        for t in word_tokens_py(r[1])
    }
    q_terms = spark.createDataFrame(
        sorted(pairs), f"{query_id_col} {pid_type}, term string"
    )
    term_list = spark.createDataFrame(
        [(t,) for t in sorted({t for _, t in pairs})], "term string"
    )
    return q_terms, term_list


def _candidates_with_df(terms: DataFrame, term_list: DataFrame) -> DataFrame:
    """Candidate postings (docs containing >=1 query term) with the
    per-term document frequency attached AS A WINDOW over the SAME
    subtree. This is what makes the search single-pass: computing df
    as a separate aggregate would reference the postings twice and
    Spark would evaluate the corpus-sized explode+groupBy build once
    per reference (the round-4 shape — its q_similarity_topk plan
    showed 10 scans / 10 exchanges and 2.08 s warm; a persist() fixes
    the double build but pays cache-write + eviction pressure and
    measured SLOWER than this form at sf0.1: 2.4 s vs 1.4 s). The
    window shuffles only the CANDIDATE set — already pruned by the
    broadcast query-term join — and over a term-bucketed standing
    index it needs no exchange at all (scan partitioning satisfies
    partitionBy(term); plan-asserted in tests)."""
    from pyspark.sql import Window

    return terms.join(F.broadcast(term_list), "term").withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("term")).cast("bigint")
    )


def _bm25_rank(
    terms: DataFrame,
    q_terms: DataFrame,
    term_list: DataFrame,
    stats: DataFrame,
    k: int,
    k1: float,
    b: float,
    id_col: str,
    query_id_col: str,
) -> DataFrame:
    """Shared scoring tail over any postings source (freshly built or
    a standing bucketed index): broadcast query terms prune to the
    candidate set, df rides along as a window (see _candidates_with_df),
    the one-row corpus stats broadcast in, and aggregation/ranking run
    on candidates only. The corpus-sized postings are referenced
    exactly once and never shuffle for a search."""
    cand = _candidates_with_df(terms, term_list)
    avgdl = F.col("__sum_dl").cast("double") / F.col("__n")
    idf = F.log(
        F.lit(1.0) + (F.col("__n") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    tf_part = (F.col("tf") * (1.0 + k1)) / (
        F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / avgdl)
    )
    scored = (
        cand.join(F.broadcast(q_terms), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy(query_id_col, id_col)
        .agg(F.round(F.sum(idf * tf_part), 6).alias("score"))
    )
    return grouped_topk(
        scored, [query_id_col], [F.col("score").desc(), F.col(id_col).asc()], k
    ).select(query_id_col, id_col, "score")


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    query_text_col: str = "query_text",
    queries_local: list[tuple] | None = None,
) -> DataFrame:
    """Okapi BM25 top-k documents per query (ad-hoc form: index built
    in-query; ``build_postings_index`` + ``bm25_topk_indexed`` is the
    standing-index form that skips the build entirely).
    ``queries_local``: the same (id, text) pairs as driver-side
    literals, skipping the per-construction collect job
    (_query_terms_local).

    ``score(q, d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))``
    over the DISTINCT terms of the query, with the standard
    ``idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5))`` (always positive).

    Exactness: tf/df/dl/N are integers, ``avgdl = Σdl / N`` is one
    exact int64 sum divided once, and the final score is rounded to 6
    decimals BEFORE ranking — the determinism contract above.

    Scale shape: the postings build (explode + one shuffle) appears
    exactly ONCE in the plan — document frequencies ride the candidate
    set as a window instead of re-aggregating the postings subtree
    (_candidates_with_df has the measurements). The corpus stats are a
    second, map-only tokenize pass (count + sum, no shuffle; zero-token
    docs count toward N but never appear in postings), folded in as a
    BROADCAST one-row join so the whole query stays one lazy plan —
    an eager .first() would cost a separate job per invocation.
    avgdl = exact int64 sum / exact count — deterministic."""
    terms = doc_terms(docs, text_col, id_col)
    stats = docs.agg(
        F.count(F.lit(1)).cast("double").alias("__n"),
        F.sum(F.size(word_tokens_expr(text_col)).cast("bigint")).alias("__sum_dl"),
    )
    q_terms, term_list = _query_terms_local(
        queries, query_id_col, query_text_col, queries_local
    )
    return _bm25_rank(
        terms, q_terms, term_list, stats, k, k1, b, id_col, query_id_col
    )


def build_postings_index(
    docs: DataFrame,
    table: str,
    n_buckets: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Materialize the STANDING inverted index: ``doc_terms`` written
    as a parquet table BUCKETED (and sorted) BY TERM, plus a one-row
    ``{table}_stats`` companion (N, Σdl) so searches never touch the
    raw corpus at all.

    Why bucketed by term: a search's first corpus-side operation is
    the per-term document-frequency aggregate. On a term-bucketed
    table the scan's output partitioning already satisfies
    ``groupBy(term)``, so the df aggregate — and the scoring join,
    also keyed on term — run with ZERO exchanges over the postings
    (plan-asserted in tests). At 100 TB the index is paid once at
    write; every search after that is broadcast-join + candidate-set
    work only."""
    from snapflow_spark.sources.io import drop_table_and_location, refresh_bucketed

    spark = docs.sparkSession
    terms = doc_terms(docs, text_col, id_col).persist()
    refresh_bucketed(terms, table, ["term"], n_buckets, sort_cols=["term"])
    n_docs = docs.agg(F.count(F.lit(1)).cast("double").alias("__n"))
    sum_dl = (
        terms.select(id_col, "dl")
        .groupBy(id_col)
        .agg(F.first("dl").alias("dl"))
        .agg(F.sum("dl").alias("__sum_dl"))
    )
    stats_table = f"{table}_stats"
    drop_table_and_location(spark, stats_table)
    n_docs.crossJoin(sum_dl).write.saveAsTable(stats_table)
    terms.unpersist()


def bm25_topk_indexed(
    spark,
    table: str,
    queries: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    query_text_col: str = "query_text",
) -> DataFrame:
    """BM25 search against a ``build_postings_index`` table: identical
    scores/ranking to ``bm25_topk`` (parity-tested), but the plan
    reads the PERSISTED postings — no tokenization, no index build,
    and no exchange over the postings (bucketed-by-term scan feeds
    the df aggregate and scoring join directly)."""
    terms = spark.table(table)
    stats = spark.table(f"{table}_stats")
    q_terms, term_list = _query_terms_local(queries, query_id_col, query_text_col)
    return _bm25_rank(
        terms, q_terms, term_list, stats, k, k1, b, id_col, query_id_col
    )


def bm25_oracle_sql(
    queries: list[tuple[int, str]],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB replay of ``bm25_topk`` for a literal query list — the
    oracle twin (same tokenization, same idf/tf arithmetic, same
    round-then-rank determinism contract)."""
    # SQL string literals: double any quote so a probe query like
    # "what's a join" stays one literal instead of malformed SQL
    qvals = ", ".join(
        f"({int(qid)}, '{str(qtext).replace(chr(39), chr(39) * 2)}')"
        for qid, qtext in queries
    )
    return rf"""
    WITH q(query_id, query_text) AS (VALUES {qvals}),
    qt AS (
      SELECT DISTINCT query_id, unnest(regexp_extract_all(lower(query_text), '[\p{{L}}]+')) AS term
      FROM q
    ), toks AS (
      SELECT {id_col}, unnest(regexp_extract_all(lower({text_col}), '[\p{{L}}]+')) AS term
      FROM {table}
    ), terms AS (
      SELECT {id_col}, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2
    ), dl AS (
      SELECT {id_col}, len(regexp_extract_all(lower({text_col}), '[\p{{L}}]+')) AS dl
      FROM {table}
    ), stats AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
      FROM dl
    ), dfreq AS (
      SELECT term, COUNT(*) AS df FROM terms GROUP BY 1
    ), scored AS (
      SELECT qt.query_id, t.{id_col},
             round(SUM(
               ln(1 + (s.n - f.df + 0.5) / (f.df + 0.5))
               * (t.tf * (1 + {k1})) / (t.tf + {k1} * (1 - {b} + {b} * d.dl / s.avgdl))
             ), 6) AS score
      FROM terms t
      JOIN qt ON t.term = qt.term
      JOIN dfreq f ON t.term = f.term
      JOIN dl d ON t.{id_col} = d.{id_col}
      CROSS JOIN stats s
      GROUP BY 1, 2
    ), ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, {id_col}) AS rn
      FROM scored
    )
    SELECT query_id, {id_col}, score FROM ranked WHERE rn <= {k}
    """


def build_vocab(
    docs: DataFrame,
    top_k: int,
    text_col: str = "text",
    by: str | None = None,
) -> DataFrame:
    """Tokenizer-vocabulary building: the ``top_k`` most frequent word
    tokens (optionally per ``by`` group, e.g. per language — how
    multilingual tokenizer budgets are allocated). Deterministic
    ranking: count desc, then term asc.

    Scale shape: explode + groupBy(term) with map-side combine is the
    whole job — the aggregated vocab is tiny (≤ distinct-token count),
    so the ranking window runs over a small intermediate, not the
    corpus. Returns (``by``?, term, term_count, term_rank)."""
    keys = [by] if by else []
    counts = (
        docs.select(*keys, F.explode(word_tokens_expr(text_col)).alias("term"))
        .groupBy(*keys, "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("term_count"))
    )
    ranked = grouped_topk(
        counts, keys, [F.col("term_count").desc(), F.col("term").asc()], top_k
    )
    # re-derive the rank column for consumers (grouped_topk drops it)
    from pyspark.sql import Window

    w = Window.partitionBy(*keys).orderBy(
        F.col("term_count").desc(), F.col("term").asc()
    )
    return ranked.withColumn("term_rank", F.row_number().over(w).cast("bigint"))
