"""Incremental dedup against corpus HISTORY — the crawl-ingest gate.

Batch dedup (operators/dedup_text.py) answers "which of these docs
duplicate each other"; a real crawl pipeline ingests BATCHES against
an ever-growing corpus and must answer "which of these NEW docs
duplicate anything we already kept" — without rescanning history
text. That is snapflow's incremental identity applied to dedup, and
it is what makes the 100 TB case tractable: history is represented by
small standing artifacts (fingerprints / MinHash signatures + band
keys), never by the text itself.

Two tiers, mirroring the batch cascade:

- ``incremental_exact_dedup`` — history = a SnapshotStore of kept
  FINGERPRINTS (one sha256 per doc — ~32 bytes/doc). New batch:
  keep min-id per fingerprint within the batch (the exact_dedup
  keeper), LEFT ANTI join against history fingerprints, append the
  survivors' fingerprints. One groupBy + one anti join per batch;
  the anti join's build side is the history fingerprint column —
  GBs per billion docs, a plain shuffled join AQE handles.
- ``incremental_minhash_dedup`` — history = TWO stores: per-doc
  MinHash signatures (doc_id, sig) and exploded band keys (doc_id,
  band_idx, band_val) — kept separate deliberately: band rows are
  ×bands per doc and must stay sig-free or the store amplifies by
  k longs per band row. New batch: compute sigs/bands once
  (the xxhash64 helpers below), candidate = new bands ⋈ history
  bands on the band key (the LSH bucket join — only colliding docs
  meet), VERIFY by signature agreement (``est_jaccard`` = matching
  minhash fraction — no text needed, the standard unbiased Jaccard
  estimate), drop new docs with any qualifying history match or a
  lower-id qualifying match inside the batch, append survivors'
  sigs + bands.

Re-run semantics (documented, tested): candidate joins exclude
``old_id == new_id`` and exact re-ingest anti-joins its own committed
fingerprints, so replaying a crashed batch converges — exact re-runs
drop everything already committed; near-dup re-runs keep previously
kept docs (self-matches excluded) and may append duplicate artifact
rows, which both read paths collapse with ``dropDuplicates`` — the
at-least-once + idempotent-read contract the snapshot importers use.

Batch-internal near-dup policy: a new doc is dropped when a
LOWER-id batch sibling matches at threshold (greedy pairwise, not
transitive closure — ``connected_components`` exists for full
clustering; an ingest gate wants a deterministic one-pass rule).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from snapflow_spark.catalog import ensure_parallelism
from snapflow_spark.functions.text import fingerprint_expr, ngram_expr, tokens_expr

__all__ = [
    "incremental_exact_dedup",
    "incremental_minhash_dedup",
]


def shingle_hashes(tokens: Column, shingle_n: int = 3) -> Column:
    """One 64-bit hash per distinct token shingle (codegen)."""
    return F.transform(F.array_distinct(ngram_expr(tokens, shingle_n)), lambda s: F.xxhash64(s))


def minhash_signature(hashes: Column, k: int) -> Column:
    """k-element MinHash signature from pre-computed shingle hashes:
    k salted re-hashes (xxhash64(h, i)) reduced by array_min. Keep the
    hashes in their own projection so they materialize once, not k
    times (CollapseProject won't duplicate non-cheap exprs)."""
    return F.array(
        *[
            F.array_min(F.transform(hashes, _salted_hash(i)))
            for i in range(k)
        ]
    )


def _salted_hash(i: int):
    # real closure — a default-arg lambda reads as a 2-arg (element,
    # index) lambda to Spark's higher-order transform
    return lambda h: F.xxhash64(h, F.lit(i))


def _sig_match_fraction(a: Column, b: Column, k: int) -> Column:
    matches = F.aggregate(
        F.zip_with(a, b, lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return matches / F.lit(float(k))


def incremental_exact_dedup(
    spark: SparkSession,
    docs: DataFrame,
    store,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact-dedup a new batch against history (module doc). Returns
    the surviving rows (input columns + ``fingerprint``) AFTER
    committing their fingerprints to ``store`` (a SnapshotStore); the
    returned plan re-derives the same rows deterministically."""
    fp = docs.withColumn("fingerprint", fingerprint_expr(text_col))
    keepers = fp.groupBy("fingerprint").agg(F.min(id_col).alias(id_col))
    kept = fp.join(keepers, ["fingerprint", id_col], "left_semi")
    history = store.read(spark)
    if history is not None:
        kept = kept.join(
            history.select("fingerprint").dropDuplicates(),
            "fingerprint",
            "left_anti",
        )
    store.append(kept.select("fingerprint"))
    return kept


def incremental_minhash_dedup(
    spark: SparkSession,
    docs: DataFrame,
    sig_store,
    band_store,
    text_col: str = "text",
    id_col: str = "doc_id",
    jaccard_threshold: float = 0.8,
    num_hash_tables: int = 8,
    rows_per_band: int = 2,
    shingle_n: int = 3,
) -> DataFrame:
    """Near-dedup a new batch against history via standing MinHash
    artifacts (module doc). Returns surviving input rows after
    committing their (doc_id, sig) and (doc_id, band_idx, band_val)
    artifact rows. Sub-shingle docs degrade to one whole-text shingle
    (ngram_expr's documented degradation), so identical short docs
    still dedup; only tokenless/NULL docs bypass the gate."""
    k = num_hash_tables * rows_per_band
    staged = (
        ensure_parallelism(docs).select(F.col(id_col), F.col(text_col))
        .select(id_col, tokens_expr(text_col).alias("__toks"))
        # NULL/tokenless docs bypass entirely: without this gate they
        # would degrade to a '' whole-text shingle and "near-match"
        # every other empty doc — emptiness is a quality-filter
        # concern, not a duplication signal
        .where(F.size("__toks") > 0)
        .select(id_col, shingle_hashes(F.col("__toks"), shingle_n).alias("__h"))
        .where(F.size("__h") > 0)
        .select(id_col, minhash_signature(F.col("__h"), k).alias("sig"))
    )
    bands_arr = F.array(
        *[
            F.struct(
                F.lit(j).alias("band_idx"),
                F.xxhash64(
                    *[
                        F.element_at("sig", j * rows_per_band + r + 1)
                        for r in range(rows_per_band)
                    ],
                    F.lit(j),
                ).alias("band_val"),
            )
            for j in range(num_hash_tables)
        ]
    )
    new_sigs = staged.persist()
    new_bands = new_sigs.select(
        id_col, F.explode(bands_arr).alias("b")
    ).select(id_col, F.col("b.band_idx"), F.col("b.band_val"))

    def qualifying(cands: DataFrame, other_sigs: DataFrame, other_id) -> DataFrame:
        """candidate (new_id, other_id) pairs → new ids whose sig
        agreement with the other side reaches the threshold."""
        joined = (
            cands.join(new_sigs.select(F.col(id_col).alias("__nid"), F.col("sig").alias("__nsig")), cands["new_id"] == F.col("__nid"))
            .join(other_sigs.select(F.col(other_id).alias("__oid"), F.col("sig").alias("__osig")), cands["other_id"] == F.col("__oid"))
        )
        return (
            joined.where(
                _sig_match_fraction(F.col("__nsig"), F.col("__osig"), k)
                >= F.lit(float(jaccard_threshold))
            )
            .select(F.col("new_id"))
            .dropDuplicates()
        )

    drop_ids = None
    hist_bands = band_store.read(spark)
    hist_sigs = sig_store.read(spark)
    if hist_bands is not None and hist_sigs is not None:
        cands = (
            new_bands.select(
                F.col(id_col).alias("new_id"), "band_idx", "band_val"
            )
            .join(
                hist_bands.select(
                    F.col(id_col).alias("other_id"), "band_idx", "band_val"
                ).dropDuplicates(),
                ["band_idx", "band_val"],
            )
            .where(F.col("new_id") != F.col("other_id"))  # re-run safety
            .select("new_id", "other_id")
            .dropDuplicates()
        )
        drop_ids = qualifying(
            cands, hist_sigs.dropDuplicates([id_col]), id_col
        )
    # batch-internal: a LOWER-id sibling at threshold drops the higher id
    self_cands = (
        new_bands.select(F.col(id_col).alias("new_id"), "band_idx", "band_val")
        .join(
            new_bands.select(F.col(id_col).alias("other_id"), "band_idx", "band_val"),
            ["band_idx", "band_val"],
        )
        .where(F.col("other_id") < F.col("new_id"))
        .select("new_id", "other_id")
        .dropDuplicates()
    )
    self_drops = qualifying(self_cands, new_sigs, id_col)
    drop_ids = self_drops if drop_ids is None else drop_ids.unionByName(self_drops)

    kept = docs.join(
        drop_ids.select(F.col("new_id").alias(id_col)).dropDuplicates(),
        id_col,
        "left_anti",
    )
    kept_sigs = new_sigs.join(
        kept.select(id_col), id_col, "left_semi"
    )
    sig_store.append(kept_sigs.select(id_col, "sig"))
    band_store.append(
        kept_sigs.select(id_col, F.explode(bands_arr).alias("b")).select(
            id_col, F.col("b.band_idx"), F.col("b.band_val")
        )
    )
    new_sigs.unpersist()
    return kept
