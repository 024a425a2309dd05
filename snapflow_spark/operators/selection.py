"""Data selection via importance resampling (DSIR — Xie et al. 2023,
"Data Selection for Language Models via Importance Resampling",
NeurIPS; SURVEY.md §2.B.11 north-star: choosing WHICH raw documents
to train on, given a small trusted target corpus).

Method: featurize every document as a bag of HASHED n-grams
(unigrams + bigrams of the word tokenizer both engines share), fit
two smoothed multinomial bucket models — one on the target corpus,
one on the raw pool — and score each raw document with its log
importance weight ``log w(x) = Σ_b n_b(x)·(ln p̂_tgt(b) − ln p̂_raw(b))``.
Selection resamples ∝ w(x) WITHOUT replacement via the Gumbel-top-k
trick, with the Gumbel noise derived from a sha256 hash of the
document id — fully deterministic, replayable on any engine, stable
across repartitions (the same contract as curation.split_by_hash).

Plan shape (the BM25 single-pass lesson, operators/retrieval.py):

- Corpus totals R/T are DEFERRED to a 1-row aggregate over the
  per-document rows (round 6): ln((c+α)/(Tot+αB)) splits into
  ln(c+α) − ln(Tot+αB) with a per-corpus-constant subtrahend, and
  R = Σ_docs w_raw·n(x) is recoverable after the per-doc groupBy —
  so the corpus is scanned and tokenized exactly ONCE (the previous
  design paid a second map-only tokenize pass just for the totals).
- One exploded pass computes per-bucket counts AS A WINDOW over the
  occurrences themselves (partitionBy(bucket) — per-bucket raw and
  target counts ride each occurrence row), so the corpus is never
  tokenized twice on the heavy path and there is no side table to
  join: smoothing + the log-ratio weight are computed per occurrence
  and summed per document in the SAME subtree. Two shuffles total
  (bucket window, per-doc sum), both map-side combinable... the
  window one is a true repartition; at 100 TB the bucket key has
  ``num_buckets`` distinct values, so AQE coalesces it into a
  bounded-width exchange (buckets are uniform by construction —
  sha256 output).
- Selection is ``orderBy(key).limit(n)`` — Spark plans
  TakeOrderedAndProject (per-partition top-n + driver merge of n·P
  rows), never a global sort.

Determinism contract (hash-matchability): buckets come from the
sha256 nibble-fold `curation._hash_bucket` both engines replay
digit-for-digit; ln/round(…,6) before ranking with id tie-break is
the same FP contract BM25's hash-matched scoring established.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from snapflow_spark.functions.fragments import memo_fragment
from snapflow_spark.operators.curation import _BUCKETS, _hash_bucket
from snapflow_spark.operators.retrieval import word_tokens_expr

__all__ = [
    "dsir_log_weights",
    "dsir_select",
    "grams_expr",
    "lm_cross_entropy",
    "perplexity_buckets",
]


def grams_expr(tokens: Column) -> Column:
    """Unigrams + bigrams from a MATERIALIZED token-array column (the
    DSIR paper's feature set). Like winnow_fingerprints_expr, the
    token column must be staged in its own select first — the lambda
    references it once per bigram and an inline regexp subtree would
    re-tokenize per element. Fewer than 2 tokens contribute unigrams
    only (no degenerate whole-text gram — that would alias distinct
    short docs into one feature)."""
    # zip_with over two shifted O(n) slices — one pass per doc. The
    # per-position forms both lose badly in a full pipeline at sf0.1:
    # transform+slice(i,2) copies an array per position (3.4 s for
    # the corpus occ subtree), transform+element_at pays ANSI-checked
    # per-element lookups (6.2 s); this form measured 0.65 s.
    n = F.size(tokens)
    bigrams = F.when(
        n >= 2,
        F.zip_with(
            F.slice(tokens, 1, n - 1),
            F.slice(tokens, 2, n - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.concat(tokens, bigrams)


def _grams_frag() -> Column:
    """grams_expr over the staged "__toks" column — a pure fragment of
    that name, memoized per context (round 18: the zip_with fold is
    ~30 py4j round trips per construction)."""
    return memo_fragment(
        ("selection.grams", "__toks"), lambda: grams_expr(F.col("__toks"))
    )


def _tagged_grams(
    raw: DataFrame,
    target: DataFrame | None,
    target_pred: Column | None,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """(id, w_raw, w_tgt, grams): each row's gram occurrences count
    ``w_raw`` times toward the raw model and ``w_tgt`` toward the
    target model.

    Two forms. With a separate ``target`` DataFrame, the corpora
    union with one side flagged (two scans — unavoidable, they are
    different data). With ``target_pred`` — the common "target is a
    slice of the pool" case — ONE scan of ``raw`` serves both models
    (w_raw=1 always, w_tgt=predicate), halving the tokenize work;
    the counts are identical to the union form by construction."""
    if (target is None) == (target_pred is None):
        raise ValueError("exactly one of target / target_pred required")
    if target_pred is not None:
        return raw.select(
            F.col(id_col).alias("__id"),
            F.lit(1).alias("__w_raw"),
            target_pred.cast("int").alias("__w_tgt"),
            word_tokens_expr(text_col).alias("__toks"),
        ).select(
            "__id", "__w_raw", "__w_tgt",
            _grams_frag().alias("__grams"),
        )

    def side(df: DataFrame, is_target: bool) -> DataFrame:
        return df.select(
            F.col(id_col).alias("__id"),
            F.lit(0 if is_target else 1).alias("__w_raw"),
            F.lit(1 if is_target else 0).alias("__w_tgt"),
            word_tokens_expr(text_col).alias("__toks"),
        ).select(
            "__id", "__w_raw", "__w_tgt",
            _grams_frag().alias("__grams"),
        )

    return side(raw, False).unionByName(side(target, True))


def _occ_with_model(
    tagged: DataFrame, salt: str, num_buckets: int
) -> DataFrame:
    """The shared model-fitting subtree (dsir_log_weights AND
    lm_cross_entropy): explode grams, bucket via the sha256
    nibble-fold, attach per-bucket raw/target counts as a window over
    the occurrences. Output columns: __id, __w_raw, __w_tgt, __b,
    __rc, __tc.

    Corpus totals R/T are deliberately NOT computed here (round 6):
    the old 1-row totals agg was a SECOND full scan+tokenize of the
    corpus. Because ln((c+α)/(Tot+αB)) = ln(c+α) − ln(Tot+αB) and the
    subtrahend is a per-corpus constant, both consumers can defer the
    totals to a tiny aggregate over their per-DOCUMENT rows
    (R = Σ_docs w_raw·n(x)).

    Round-18 correction + adjudication (three variants measured): the
    round-6 claim that AQE ReuseExchange collapses the two per-doc
    consumers is FALSE in the final adaptive plan — column pruning
    specializes the duplicated subtrees (the totals copy loses the
    window entirely, keeping only scan→tokenize→explode→partial-
    count), so the exchanges are never byte-identical and 0
    ReusedExchange appear. Two single-pass repairs were implemented
    and measured against the duplication:
    (a) per_doc PERSIST (one materialization feeds weights + totals):
        SLOWER at both sizes — q_text_quality warm 3.70 vs 3.53 s at
        sf0.1, 12.39 vs 10.23 s at the 10× corpus; the pin serializes
        the critical path.
    (b) per-bucket counts as a PERSISTED ≤num_buckets-row table,
        BROADCAST-joined onto the occurrences with totals = Σ_b rc_b
        from the same pin (kills the occurrence-stream window
        exchange AND the duplicate pass; values verified identical):
        isolated scorer 2.97 → 2.65 s at the 10× corpus, but the
        FULL q_text_quality union measured old-fastest at BOTH sizes
        (interleaved min: 8.55 vs 9.05 s at 10×; ~3.5 vs ~4.1 s at
        sf0.1) — the duplicate windowless pass overlaps the other
        five branches' stages, while the pin+broadcast barriers
        serialize against them.
    Verdict: keep the window + duplicated windowless totals pass
    (same reasoning as the round-8 excise-keeper staging: overlapping
    recompute of map-side scan work beats materializing an
    intermediate). Variant (b) is the right shape if this scorer ever
    runs STANDALONE on a saturated cluster — revisit only with
    cluster-scale evidence."""
    bucket = memo_fragment(
        ("selection.bucket", "__g", salt, num_buckets),
        lambda: _hash_bucket(F.col("__g"), salt, num_buckets),
    )
    occ = tagged.select(
        "__id", "__w_raw", "__w_tgt", F.explode("__grams").alias("__g")
    ).withColumn("__b", bucket)
    w = Window.partitionBy("__b")
    return occ.withColumn(
        "__rc", F.sum("__w_raw").over(w).cast("double")
    ).withColumn("__tc", F.sum("__w_tgt").over(w).cast("double"))


def dsir_log_weights(
    raw: DataFrame,
    target: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_buckets: int = _BUCKETS,
    alpha: float = 1.0,
    salt: str = "dsir-v1",
    target_pred: Column | None = None,
) -> DataFrame:
    """Per-raw-document log importance weight ``(id_col, log_w)``,
    rounded to 6 decimals (the cross-engine ranking contract).

    ``log_w(x) = Σ_b n_b(x) · [ln (tc_b+α)/(T+αB) − ln (rc_b+α)/(R+αB)]``

    with tc/rc the per-bucket target/raw occurrence counts, T/R the
    corpus totals, B ``num_buckets`` and ``alpha`` Laplace smoothing.
    Documents with zero letter tokens have no features and no row —
    they cannot be selected (same convention as BM25's postings).

    Scale: totals are a map-only tokenize pass broadcast as one row;
    bucket counts ride the occurrences as a window (module docstring
    has the full plan-shape rationale). Prefer ``target_pred`` when
    the target is a slice of the pool — one corpus scan serves both
    models instead of the two the union form needs."""
    tagged = _tagged_grams(raw, target, target_pred, text_col, id_col)
    ab = float(alpha) * num_buckets
    counted = _occ_with_model(tagged, salt, num_buckets)
    # Per-doc partial sum with the corpus-constant term factored out:
    #   log_w(x) = Σ_occ [ln(tc+α) − ln(rc+α)]  −  n(x)·[ln(T+αB) − ln(R+αB)]
    # so R/T come from a 1-row agg over the per-DOC rows (not a second
    # corpus pass); the group keys include the side weights so the
    # union form keeps raw/target sides separate under id collisions.
    per_doc = counted.groupBy("__id", "__w_raw", "__w_tgt").agg(
        F.sum(
            F.log(F.col("__tc") + alpha) - F.log(F.col("__rc") + alpha)
        ).alias("__s"),
        F.count(F.lit(1)).cast("double").alias("__n"),
    )
    totals = per_doc.agg(
        F.sum(F.col("__w_raw") * F.col("__n")).alias("__R"),
        F.sum(F.col("__w_tgt") * F.col("__n")).alias("__T"),
    )
    return (
        per_doc.where(F.col("__w_raw") == 1)
        .crossJoin(F.broadcast(totals))
        .select(
            F.col("__id").alias(id_col),
            F.round(
                F.col("__s")
                - F.col("__n")
                * (F.log(F.col("__T") + ab) - F.log(F.col("__R") + ab)),
                6,
            ).alias("log_w"),
        )
    )


def dsir_select(
    raw: DataFrame,
    target: DataFrame | None,
    n_keep: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_buckets: int = _BUCKETS,
    alpha: float = 1.0,
    salt: str = "dsir-v1",
    resample_salt: str = "dsir-gumbel-v1",
    gumbel: bool = True,
    target_pred: Column | None = None,
) -> DataFrame:
    """Select ``n_keep`` raw documents by importance resampling:
    ``(id_col, log_w, key, rank)`` with rank 1..n_keep.

    ``gumbel=True`` (the paper's sampler): key = log_w + G(id) where
    G = −ln(−ln(u)) and u = (hash_bucket(id, resample_salt)+0.5)/B —
    a deterministic uniform in (0,1), so the selection IS a sample
    ∝ w(x) without replacement (Gumbel-top-k) yet bit-stable across
    runs, engines, and repartitions. ``gumbel=False`` degrades to
    plain top-k by weight (the paper's "top-k heuristic" baseline).

    The final order-by-limit plans as TakeOrderedAndProject — no
    global sort at any scale."""
    scores = dsir_log_weights(
        raw, target, text_col, id_col, num_buckets, alpha, salt,
        target_pred=target_pred,
    )
    if gumbel:
        u = (
            _hash_bucket(F.col(id_col), resample_salt, num_buckets).cast("double")
            + 0.5
        ) / num_buckets
        key = F.round(F.col("log_w") - F.log(-F.log(u)), 6)
    else:
        key = F.col("log_w")
    ranked = (
        scores.withColumn("key", key)
        .orderBy(F.col("key").desc(), F.col(id_col).asc())
        .limit(n_keep)
    )
    win = Window.orderBy(F.col("key").desc(), F.col(id_col).asc())
    return ranked.withColumn("rank", F.row_number().over(win).cast("bigint"))


def lm_cross_entropy(
    raw: DataFrame,
    ref: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_buckets: int = _BUCKETS,
    alpha: float = 1.0,
    salt: str = "dsir-v1",
    ref_pred: Column | None = None,
) -> DataFrame:
    """Per-document cross-entropy under a smoothed hashed-gram
    language model fit on a REFERENCE corpus — the CCNet-style
    quality signal (Wenzek et al. 2020 rank documents by LM
    perplexity against a trusted corpus; here the LM is the same
    hashed unigram+bigram multinomial the DSIR scorer fits, so the
    whole machinery is shared and equally oracle-replayable).

    Returns ``(id_col, n_grams, cross_entropy, ppl)`` with
    ``cross_entropy = round(-(1/n)·Σ ln p_ref(bucket), 6)`` and
    ``ppl = round(exp(cross_entropy), 6)``. Lower = more
    reference-like; filter or rank on it to keep the head of the
    distribution. Plan shape identical to dsir_log_weights (one
    corpus pass with ``ref_pred``, window-attached bucket counts,
    broadcast totals)."""
    tagged = _tagged_grams(raw, ref, ref_pred, text_col, id_col)
    ab = float(alpha) * num_buckets
    counted = _occ_with_model(tagged, salt, num_buckets)
    # Same deferred-totals shape as dsir_log_weights:
    #   ce(x) = ln(T+αB) − avg_occ ln(tc+α)
    # with T from a 1-row agg over the per-doc rows.
    per_doc = counted.groupBy("__id", "__w_raw", "__w_tgt").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.avg(F.log(F.col("__tc") + alpha)).alias("__alp"),
    )
    totals = per_doc.agg(
        F.sum(F.col("__w_tgt") * F.col("n_grams")).cast("double").alias("__T")
    )
    scored = (
        per_doc.where(F.col("__w_raw") == 1)
        .crossJoin(F.broadcast(totals))
        .select(
            F.col("__id").alias(id_col),
            "n_grams",
            F.round(
                F.log(F.col("__T") + ab) - F.col("__alp"), 6
            ).alias("cross_entropy"),
        )
        .withColumn("ppl", F.round(F.exp("cross_entropy"), 6))
    )
    return scored


def perplexity_buckets(
    raw: DataFrame,
    ref: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    by: str | None = None,
    fractions: tuple[float, float] = (1 / 3, 2 / 3),
    exact: bool = False,
    accuracy: int = 10_000,
    num_buckets: int = _BUCKETS,
    alpha: float = 1.0,
    salt: str = "dsir-v1",
    ref_pred: Column | None = None,
    lm=None,
    keep_thresholds: bool = False,
) -> DataFrame:
    """CCNet's head/middle/tail split (Wenzek et al. 2020 §4.4):
    score every document's LM perplexity against the reference
    (``lm_cross_entropy``), compute the ``fractions`` quantile
    thresholds — per ``by`` group (CCNet: per language) or globally —
    and tag each document ``head`` (most reference-like), ``middle``
    or ``tail``. Returns ``(id_col[, by], n_grams, cross_entropy,
    ppl, ppl_bucket)``.

    ``lm=`` (a trained ``functions.kn_lm.KNBigramLM``, round 11)
    swaps the scorer to the published interpolated Kneser-Ney
    conditional model — CCNet's actual recipe (KenLM is modified
    KN); ``ref``/``ref_pred``/``alpha``/``salt`` are then unused
    (the reference corpus was consumed at TRAINING time).  The
    default stays the hashed-gram bag model, which is
    oracle-replayable and vocabulary-free; the two assign different
    buckets exactly where word ORDER carries the signal (frequent
    words in unseen order), tested in tests/test_kn_lm.py.

    Thresholds come from ONE tiny aggregate over the scored rows,
    broadcast back — so the op is the scoring scan plus a
    bounded-size join, no corpus-wide sort. ``exact=True`` switches
    ``percentile_approx`` (relative-rank accuracy ``accuracy``; the
    100 TB path) to the exact ``percentile`` aggregate, which
    materializes each group's values — use it for oracles and tests,
    not for corpora that don't fit a task. ``keep_thresholds=True``
    retains the group's quantile cut points as ``ppl_q_lo`` /
    ``ppl_q_hi`` columns (audit / oracle use) instead of dropping
    them."""
    lo, hi = fractions
    if not (0.0 < lo < hi < 1.0):
        raise ValueError(f"fractions must satisfy 0 < lo < hi < 1: {fractions}")
    if lm is not None:
        if ref is not None or ref_pred is not None:
            raise ValueError(
                "perplexity_buckets: lm= carries its own trained "
                "reference — pass either lm or ref/ref_pred, not both"
            )
        scored = lm.score(raw, text_col=text_col, id_col=id_col)
    else:
        scored = lm_cross_entropy(
            raw, ref, text_col, id_col, num_buckets, alpha, salt, ref_pred
        )
    if by is not None:
        scored = scored.join(
            raw.select(F.col(id_col), F.col(by)), id_col
        )
    fn = F.percentile if exact else F.percentile_approx
    args = (F.col("ppl"), F.array(F.lit(float(lo)), F.lit(float(hi))))
    agg = fn(*args) if exact else fn(*args, F.lit(int(accuracy)))
    thresholds = (
        scored.groupBy(*( [by] if by is not None else [] ))
        .agg(agg.alias("__qs"))
        .select(
            *([by] if by is not None else []),
            F.col("__qs")[0].alias("__q_lo"),
            F.col("__qs")[1].alias("__q_hi"),
        )
    )
    joined = (
        scored.join(F.broadcast(thresholds), on=by)
        if by is not None
        else scored.crossJoin(F.broadcast(thresholds))
    )
    bucket = (
        F.when(F.col("ppl") <= F.col("__q_lo"), F.lit("head"))
        .when(F.col("ppl") <= F.col("__q_hi"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    out = joined.withColumn("ppl_bucket", bucket)
    if keep_thresholds:
        return out.withColumnRenamed("__q_lo", "ppl_q_lo").withColumnRenamed(
            "__q_hi", "ppl_q_hi"
        )
    return out.drop("__q_lo", "__q_hi")
