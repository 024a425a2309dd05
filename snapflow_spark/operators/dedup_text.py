"""Document deduplication operators (SURVEY.md §2.B.11; BASELINE
north-star: LLM-training-data pipeline dedup at 100 TB).

Four tiers, cheapest-first — the standard corpus-dedup cascade:
  1. exact_dedup            — sha256 of normalized text; one shuffle on
                              the hash
  2. simhash_sha_candidates — 64-bit sha256 SimHash, banded: near-dup
                              candidates via equality on 16-bit bands
                              (one shuffle on tiny keys, no pairwise
                              blowup)
  3. minhash_sha_candidates — hand-rolled MinHash-LSH over token
                              shingles (sha256 gram hashes, 16x2 integer
                              bands); mingram_candidates is its
                              single-band form
  4. ngram_jaccard_pairs    — exact n-gram Jaccard verification of a
                              bounded candidate set (array_intersect /
                              array_union, JVM-side)
Every stage is candidates -> verify: the pairwise work only ever runs
on LSH-bucket collisions, never on the full N² — that is what makes
near-dedup feasible at 100 TB. The tier-2 and tier-3 generators are
built from sha256 and integer arithmetic only, so a SQL oracle replays
their exact candidate sets (q_dedup_simhash, q_dedup_minhash,
q_dedup_ngram).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from snapflow_spark.catalog import ensure_parallelism
from snapflow_spark.functions.fragments import memo_fragment
from snapflow_spark.functions.text import (  # noqa: F401 — ngram_expr re-exported
    fingerprint_expr,
    ngram_expr,
    tokens_expr,
)


def _distinct_grams_frag(text_col: str, n: int):
    """array_distinct(ngram(tokens)) over a named text column — the
    shared candidate/verify gram fragment, memoized per context (round
    18, functions/fragments.py: the zip_with n-gram fold costs ~60
    py4j round trips per construction and is rebuilt per bench rep)."""
    return memo_fragment(
        ("dedup.distinct_grams", text_col, n),
        lambda: F.array_distinct(ngram_expr(tokens_expr(text_col), n)),
    )
from snapflow_spark.operators.buckets import bucketed_pairs
from snapflow_spark.scope import pin


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep one representative (min id) per normalized-text fingerprint;
    adds n_copies. Plain hash-groupBy — AQE handles skewed fingerprints
    (e.g. empty documents)."""
    return (
        df.withColumn("fingerprint", fingerprint_expr(text_col))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def simhash_sha_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    max_bucket: int = 64,
    observation=None,
) -> DataFrame:
    """SimHash near-dup candidates in the ORACLE-REPRODUCIBLE form: the
    64-bit signature is built from sha256 token hashes with pure
    integer/hex arithmetic (no numpy, no engine-specific hash), so a
    SQL oracle replays signature, banding, truncation, and hamming
    verify exactly — the same trick mingram_candidates used to make
    LSH hash-matchable (q_dedup_ngram).

    Signature: per token INSTANCE (classic term-frequency-weighted
    simhash — distinct-token majorities have near-zero margins on
    short docs and flip several bits per edit, measured recall 2/5 on
    the planted fixture vs 5/5 weighted), the first 16 hex chars of
    sha256 give 64 bits; bit p of the simhash is 1 iff at least half
    the instances have bit p set (sign of the ±1 sum). Bits pack into 4
    16-bit band values; ONE shuffle on (band_idx, band_val); in-bucket
    hamming = sum of bit_count(xor) over the 4 packed bands. All
    codegen — the 64 bit positions unroll to literal substring/shift
    positions at plan-build time.

    Returns (id_a, id_b, hamming <= max_hamming), deduped across
    bands. The Spark side computes the SAME sha256 math in one
    Arrow-batched numpy pass (the oracle constrains the result, not
    the mechanism — an expression-tree form of the 64 bit votes is
    interpreted, not codegen'd, and measured 31 s vs <2 s at sf0.1)."""
    from snapflow_spark.functions.text import simhash_sha_bands_udf

    bands_call = memo_fragment(
        ("dedup.simhash_sha_bands", text_col),
        lambda: simhash_sha_bands_udf(text_col),
    )
    banded = (
        ensure_parallelism(df).select(F.col(id_col).alias("id"), F.col(text_col))
        .where(F.size(tokens_expr(text_col)) > 0)
        .select("id", bands_call.alias("bvals"))
        .select("id", "bvals", F.posexplode("bvals").alias("band_idx", "band_val"))
    )
    pairs = bucketed_pairs(
        banded,
        ["band_idx", "band_val"],
        F.struct("id", "bvals"),
        lambda x, y: F.struct(
            x["id"].alias("id_a"),
            y["id"].alias("id_b"),
            F.aggregate(
                F.zip_with(
                    x["bvals"], y["bvals"], lambda a, b: F.bit_count(a.bitwiseXOR(b))
                ),
                F.lit(0),
                lambda acc, v: acc + v,
            ).cast("bigint").alias("hamming"),
        ),
        max_bucket=max_bucket,
        observation=observation,
    )
    return pairs.where(F.col("hamming") <= max_hamming).dropDuplicates(["id_a", "id_b"])


def minhash_sha_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket: int = 64,
    observation=None,
) -> DataFrame:
    """MinHash-LSH near-dup candidates in the ORACLE-REPRODUCIBLE
    form: k=32 universal-hash permutations (a_i*h + b_i mod 2^31-1,
    LCG-derived coefficients) over 32-bit sha256 gram hashes, banded
    b=16 x r=2 with each band's two rows packed into one bigint — all
    exact integer arithmetic a SQL oracle replays bit-for-bit, the
    same trick mingram/simhash_sha used (q_dedup_ngram /
    q_dedup_simhash). Detection probability 1-(1-J^2)^16 (~0.94 at
    J=0.4), vs a single band for mingram_candidates.

    Same physical shape as every LSH generator here: one Arrow-batched
    signature pass, ONE shuffle on (band_idx, band_val), bounded
    id-sorted in-bucket pairs (max_bucket), dedup across bands — never
    N². Returns (id_a < id_b); verify exactly afterwards with
    ngram_jaccard_pairs (the cascade in q_dedup_minhash)."""
    from snapflow_spark.functions.text import minhash_sha_bands_udf

    bands_call = memo_fragment(
        ("dedup.minhash_sha_bands", text_col),
        lambda: minhash_sha_bands_udf(text_col),
    )
    banded = (
        ensure_parallelism(df).select(F.col(id_col).alias("id"), F.col(text_col))
        .where(F.size(tokens_expr(text_col)) > 0)
        .select("id", bands_call.alias("bvals"))
        .select("id", F.posexplode("bvals").alias("band_idx", "band_val"))
    )
    pairs = bucketed_pairs(
        banded,
        ["band_idx", "band_val"],
        F.struct("id"),
        lambda x, y: F.struct(x["id"].alias("id_a"), y["id"].alias("id_b")),
        max_bucket=max_bucket,
        observation=observation,
    )
    return pairs.dropDuplicates(["id_a", "id_b"])


def mingram_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    max_bucket: int = 64,
    observation=None,
) -> DataFrame:
    """Deterministic near-dup candidate pairs via min-gram blocking —
    a 1-permutation MinHash: each doc's block key is the minimum
    sha256 over its distinct token n-grams, and candidates are the
    in-block pairs. Same physical shape as every LSH generator here
    (ONE shuffle groupBy(block), bounded in-block pairs, never N²),
    but built from sha256 + array_min only, so a SQL oracle can
    reproduce the exact candidate set cross-engine — which is what
    lets the verify stage stay hash-matched (q_dedup_ngram).

    Recall is that of a single band (docs sharing their rarest gram);
    minhash_sha_candidates is the 16-band form, equally reproducible,
    with higher recall.
    """
    blk = memo_fragment(
        ("dedup.minblk", "grams"),
        lambda: F.array_min(F.transform("grams", lambda g: F.sha2(g, 256))),
    )
    blocked = (
        ensure_parallelism(df).select(F.col(id_col).alias("id"), F.col(text_col))
        .select("id", _distinct_grams_frag(text_col, n).alias("grams"))
        .select("id", blk.alias("blk"))
    )
    pairs = bucketed_pairs(
        blocked,
        ["blk"],
        F.struct("id"),
        lambda x, y: F.struct(x["id"].alias("id_a"), y["id"].alias("id_b")),
        max_bucket=max_bucket,
        observation=observation,
    )
    # one block per doc -> no cross-bucket duplicates to drop
    return pairs


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components over near-dup pairs — the step AFTER any
    LSH candidate->verify cascade: verified pairs form a graph, and a
    corpus keeps ONE representative per component, not per pair
    (A~B, B~C must collapse to one cluster even though (A,C) never
    surfaced as a pair).

    Algorithm: iterative min-label propagation (the degenerate-simple
    member of the small-star/large-star family): every node starts
    labeled with itself; each round joins labels across edges in both
    directions and keeps the per-node min; stop when no label changed.
    Deterministic — the fixpoint is the component-min id regardless of
    execution order. Rounds needed = graph diameter in the worst case
    (dedup components are near-cliques from bucket explosion, so 2-3
    rounds in practice); each round is two shuffles (join + groupBy)
    on the EDGE set only — the corpus itself never enters the loop.
    localCheckpoint() per round truncates the lineage so the plan does
    not double every iteration (the classic iterative-DataFrame trap);
    the convergence check piggybacks on the same pass via a changed-
    label count, one tiny action per round.

    Returns (id, component) with component = min id reachable; ids
    not present in any pair are absent (callers union isolated docs
    back as their own component — they need no clustering).
    """
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        .persist()
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
        .localCheckpoint(eager=True)
    )
    changed = 1
    # max_iter label-CHANGING rounds plus one confirming round:
    # convergence is only observable as a zero-change round, so a graph
    # needing exactly max_iter propagation rounds still gets its
    # confirming pass instead of being misreported as non-converged.
    for _ in range(max_iter + 1):
        # candidate labels flowing across edges, plus each node's own
        prop = (
            edges.join(labels.withColumnRenamed("id", "src"), "src")
            .select(F.col("dst").alias("id"), "component")
            .unionByName(labels)
        )
        new_labels = prop.groupBy("id").agg(F.min("component").alias("component"))
        new_labels = new_labels.localCheckpoint(eager=True)
        changed = (
            new_labels.join(labels.withColumnRenamed("component", "old"), "id")
            .where(F.col("component") != F.col("old"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    edges.unpersist()
    if changed != 0:
        # Exiting via max_iter with labels still moving means some
        # component's diameter exceeds the round budget — returning
        # the intermediate labels would silently split it into several
        # clusters (under-dedup with no signal). Fail loudly; callers
        # with a genuinely long-chain graph raise max_iter.
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds; "
            "a component's diameter exceeds max_iter — raise max_iter"
        )
    return labels


def dedup_cluster_representatives(
    df: DataFrame,
    verified_pairs: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 20,
) -> DataFrame:
    """Corpus-level keep/drop decision from verified near-dup pairs:
    connected components over the pairs, each document mapped to its
    component representative (min id; docs in no pair represent
    themselves). Returns the corpus ids + (component, is_rep) — the
    semi-join driver for 'drop all near-dups but one per cluster'.
    The component computation touches only the edge set; the corpus
    joins in once at the end (left join + coalesce, one shuffle)."""
    comp = connected_components(verified_pairs, max_iter=max_iter)
    out = (
        df.select(F.col(id_col))
        .join(comp.withColumnRenamed("id", id_col), id_col, "left")
        .select(
            id_col,
            F.coalesce("component", F.col(id_col)).alias("component"),
        )
    )
    return out.withColumn("is_rep", F.col(id_col) == F.col("component"))


def ngram_jaccard_pairs(
    df: DataFrame,
    candidate_pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Exact n-gram Jaccard verification of candidate pairs — the
    verify stage after any LSH candidate generator. Semi-joins the
    corpus down to docs that appear in a candidate pair BEFORE
    computing grams (at 100 TB the candidate set is tiny relative to
    the corpus), then set algebra in codegen.

    The pair set is persisted: it is referenced twice below (the
    wanted-id explode + the final join) and without a cache each
    reference re-runs the whole upstream LSH DAG (measured 2-3x the
    runtime). The cache also keeps any upstream truncation Observation
    exact (bucketed_pairs' counters recount if the observed subtree
    recomputes). At 100 TB candidates would be written to a table
    between the stages — same idea. ``wanted`` is one explode over the
    pair set, not a two-select union — one reference instead of two.

    Both pins belong to the enclosing scope (``scope.pin``)."""
    candidate_pairs = pin(candidate_pairs)
    wanted = (
        candidate_pairs.select(
            F.explode(F.array(F.col("id_a"), F.col("id_b"))).alias(id_col)
        )
        .distinct()
    )
    # The gram table is persisted too (round 17): it feeds BOTH sides
    # of the pair join (ga and gb below), and without the pin each
    # side re-runs the semi-join + the interpreted higher-order gram
    # subtree (ngram_expr's zip_with chain is CodegenFallback —
    # evaluated per row, the dominant CPU here; measured ~2x the
    # verify cost without the pin at sf0.1). Bounded like the
    # candidate pin: one row per doc that appears in a candidate pair.
    grams = pin(
        # probe=df: the semi-join preserves df's partitioning (wanted
        # broadcasts), so the widen decision comes from the stable
        # corpus frame — one partition probe per session instead of
        # re-planning the whole LSH DAG on every construction
        # (round 17, measured ~1 s/call on q_dedup_minhash)
        ensure_parallelism(df.join(wanted, id_col, "left_semi"), probe=df)
        .select(
            F.col(id_col),
            _distinct_grams_frag(text_col, n).alias("grams"),
        )
        .withColumn("n_grams", F.size("grams"))
    )
    ga = grams.select(
        F.col(id_col).alias("id_a"),
        F.col("grams").alias("grams_a"),
        F.col("n_grams").alias("n_a"),
    )
    gb = grams.select(
        F.col(id_col).alias("id_b"),
        F.col("grams").alias("grams_b"),
        F.col("n_grams").alias("n_b"),
    )
    # |a ∪ b| = |a| + |b| - |a ∩ b| for distinct arrays — one
    # array_intersect per pair instead of intersect + union (both are
    # interpreted expressions; halving the per-pair array work). The
    # integer counts are identical by construction, so the double
    # division is bit-identical to the old size(union) form.
    return (
        candidate_pairs.join(ga, "id_a")
        .join(gb, "id_b")
        .withColumn("__i", F.size(F.array_intersect("grams_a", "grams_b")))
        .select(
            "id_a",
            "id_b",
            (F.col("__i") / (F.col("n_a") + F.col("n_b") - F.col("__i"))).alias(
                "jaccard"
            ),
        )
    )


def dedup_lines_global(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    line_sep: str = "\n",
    normalize: bool = True,
) -> DataFrame:
    """CROSS-document line deduplication — the CCNet/RefinedWeb boiler-
    plate killer: a line (nav bar, cookie banner, footer) that appears
    in many documents survives only at its FIRST occurrence corpus-wide
    (minimum (doc_id, line_no)); every later copy is dropped and each
    document is reconstructed from its surviving lines in order.
    Complements ``functions.text.dedup_lines_expr``, which dedups only
    WITHIN a document.

    Deterministic (first occurrence is a total order over
    (doc_id, line_no)), so a SQL oracle can replay it exactly.

    Scale shape (de-skewed round 8, same fix as the excise keeper):
    posexplode lines -> the first occurrence of each distinct line
    comes from ``groupBy(sha256(line)).agg(min(struct(doc, line_no)))``
    joined back to the occurrences — NOT ``row_number() over
    (partition by hash)``: partial aggregation collapses a nav-bar
    line held by millions of documents to one row per map task before
    the shuffle, where the window form would land the whole bucket on
    ONE task; the join back on the digest is AQE-skew-splittable. The
    keeper table is one row per DISTINCT line (not per occurrence).
    The hash key is the 64-hex digest, never the raw line text, so
    long lines don't inflate shuffle keys; groupBy doc reassembles
    (second shuffle). ``normalize`` drops whitespace-only lines up
    front (the pathological mega-key).

    Returns (id, text, n_lines, n_kept) — one row per input doc, text
    rebuilt from surviving lines (empty string if none survived).
    """
    # F.split takes a Java REGEX: escape the separator so a literal
    # like "." or "|" splits on the character, not the pattern
    import re as _re

    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), F.lit(_re.escape(line_sep)))).alias(
            "line_no", "line"
        ),
    )
    if normalize:
        # rlike(\S), not trim() != '': Spark's trim strips only
        # 0x20 spaces, so a tab-only line would sneak through
        lines = lines.where(F.col("line").rlike(r"\S"))
    lines = lines.withColumn("__h", F.sha2(F.col("line"), 256))
    first = lines.groupBy("__h").agg(
        F.min(F.struct(F.col(id_col).alias("__fid"), F.col("line_no")))
        .alias("__keep")
    )
    marked = lines.join(first, "__h").withColumn(
        "__is_first",
        (F.col(id_col) == F.col("__keep.__fid"))
        & (F.col("line_no") == F.col("__keep.line_no")),
    )
    rebuilt = (
        marked.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.sum(F.when(F.col("__is_first"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("__is_first"),
                                F.struct(F.col("line_no"), F.col("line")),
                            )
                        )
                    ),
                    lambda s: s.getField("line"),
                ),
                line_sep,
            ).alias(text_col),
        )
    )
    # docs whose every line was dropped (all duplicates / all blank)
    # still come back, with empty text
    return (
        df.select(id_col)
        .join(rebuilt, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col(text_col), F.lit("")).alias(text_col),
            F.coalesce("n_lines", F.lit(0)).alias("n_lines"),
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        )
    )


def shared_span_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    w: int = 4,
    min_shared: int = 2,
    max_df: int | None = 32,
    max_bucket: int = 64,
    observation=None,
) -> DataFrame:
    """Cross-document COPIED-SPAN detection via winnowing fingerprint
    collisions (Schleimer/Wilkerson/Aiken, MOSS; round 6): two
    documents sharing >= ``min_shared`` winnow fingerprints almost
    certainly share verbatim token spans, even when the documents as
    WHOLES are dissimilar — the eval-set-contamination / quotation /
    boilerplate shape that document-level MinHash (whole-doc Jaccard)
    misses and line dedup only catches when the copy is line-aligned.

    Returns (id_a < id_b, n_shared, min_fp) with ``min_fp`` a witness
    fingerprint (the sha256 of a shared n-gram's window minimum) for
    drill-down. Plan shape: one scan computes per-doc winnow
    fingerprints in codegen (functions.text.winnow_fingerprints_expr
    — distinct per doc, so (doc, fp) is unique), one explode + ONE
    shuffle on the fingerprint through the standard `bucketed_pairs`
    tail, then one pair-key groupBy counting collisions. A pair
    sharing k fingerprints meets in k buckets by construction, so
    the count needs no dedup join-back.

    ``max_df`` is the MOSS-style document-frequency STOPLIST and the
    scale knob: a fingerprint present in more than max_df documents
    is boilerplate (nav bars, license headers — the corpus-wide
    repeats dedup_lines_global exists for), not evidence of copying,
    and pairing inside such a bucket is pure O(bucket²) noise —
    measured 31 s warm at sf0.1 with truncation-only vs ~2 s with the
    df filter, SAME planted-copy recall. The filter is a count window
    over the fingerprint key, which Spark satisfies with the very
    exchange the bucket groupBy needs — no extra shuffle. The
    residual ``max_bucket`` id-sorted truncation stays as the hard
    cap (vacuous while max_df <= max_bucket), and ``observation``
    surfaces any truncation loss as usual."""
    from snapflow_spark.functions.text import (
        gram_hashes_expr,
        winnow_fingerprints_expr,
    )

    # BINARY(32) fingerprint keys internally (round 18, guide §2.2/§2.3
    # narrower shuffle types — the r17 excise-branch argument applied to
    # the spans exchange): `unhex(sha2)` halves the fp on the explode ->
    # max_df window -> bucket groupBy exchange (32 B vs the 64-char hex
    # string). Equivalence is an order-isomorphism, not an
    # approximation: unhex is injective on fixed-length lowercase hex,
    # and equal-length byte strings compare unsigned byte-by-byte
    # exactly like their lowercase-hex renderings compare char-by-char
    # ('0'..'9','a'..'f' are ASCII-ordered like their nibble values) —
    # so the winnow array_min, distinctness, the per-fp document count,
    # the id-sorted bucket truncation, and the final min(fp) all carry
    # over, and the one surviving value per pair is re-rendered
    # lower(hex(...)), bit-identical to sha2's hex output.
    gram_h = memo_fragment(
        ("dedup.gram_hashes_bin", text_col, n),
        lambda: F.transform(
            ngram_expr(tokens_expr(text_col), n),
            lambda s: F.unhex(F.sha2(s, 256)),
        ),
    )
    winnow = memo_fragment(
        ("dedup.winnow", "__h", w),
        lambda: winnow_fingerprints_expr(F.col("__h"), w=w),
    )
    staged = ensure_parallelism(df).select(
        F.col(id_col).alias("id"),
        gram_h.alias("__h"),
    ).select(
        "id", winnow.alias("__fps")
    )
    exploded = staged.select("id", F.explode("__fps").alias("fp"))
    if max_df is not None:
        wdf = Window.partitionBy("fp")
        exploded = (
            exploded.withColumn("__df", F.count(F.lit(1)).over(wdf))
            .where(F.col("__df") <= int(max_df))
            .drop("__df")
        )
    pairs = bucketed_pairs(
        exploded,
        ["fp"],
        F.struct("id"),
        lambda x, y: F.struct(
            x["id"].alias("id_a"),
            y["id"].alias("id_b"),
            F.col("fp").alias("fp"),
        ),
        max_bucket=max_bucket,
        observation=observation,
    )
    return (
        pairs.groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shared"),
            F.lower(F.hex(F.min("fp"))).alias("min_fp"),
        )
        .where(F.col("n_shared") >= int(min_shared))
    )


def excise_shared_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    min_span_tokens: int | None = None,
    priority_col: str | None = None,
    max_df: int | None = None,
    hash_fn: str = "xxhash64",
    cache_victims: bool = True,
) -> DataFrame:
    """Span-level REMOVAL of cross-document verbatim duplication — the
    ExactSubstr pipeline shape (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): instead of dropping
    a partially-contaminated document whole, cut the duplicated token
    span out of every document except one keeper and keep the
    remainder byte-exact.

    Semantics. A token ``n``-gram occurring in >= 2 documents marks
    its ``n``-token interval as duplicated in every holder EXCEPT the
    keeper (the document with the smallest ``(priority_col, id)`` —
    pass ``priority_col`` to prefer e.g. the earliest crawl). Any
    shared span of length L >= n is covered by all of its L-n+1
    shared n-grams, so the per-document UNION of marked intervals
    reconstructs the full copied span exactly — gram size ``n`` IS the
    minimum detectable copied span, the role the 50-token threshold
    plays in the paper (``min_span_tokens`` additionally drops merged
    spans shorter than it AFTER merging, default ``n`` = keep all).
    All occurrences of a shared gram in a victim document are excised.
    Edge case, documented not hidden: when a span's grams have
    DIFFERENT keepers (a third lower-id document holds part of the
    span), each gram follows its own keeper, so a document can lose an
    inner fragment and keep sub-``n`` stubs — same per-substring
    independence the suffix-array pipeline has.

    ``n`` IS the minimum detectable span, both across and within
    documents: documents SHORTER than ``n`` tokens hold no ``n``-gram
    and are passed through untouched (they skip the gram stage
    entirely — round 8; previously their degenerate whole-text gram
    marked exact short-doc dupes as victims only for the surgery to
    skip the sub-``n`` cut, a silent python-side no-op). Whole-doc
    exact duplicates below ``n`` tokens are ``exact_dedup``'s job.

    ``max_df`` (optional): ignore grams held by more than ``max_df``
    DISTINCT documents. Super-common grams are boilerplate
    (navigation chrome, license headers), not leaked spans — excising
    them from every holder but one is rarely the intent, and they
    carry the worst skew; hand them to ``dedup_lines_global``. Same
    escape hatch ``shared_span_pairs`` has. Counted with a distinct
    aggregate, which adds a second (well-distributed, ``(h, id)``-
    keyed) shuffle — so the knob costs one extra pass only when set.

    ``hash_fn`` (round 8): ``"xxhash64"`` (default — 8-byte shuffle
    keys, the production choice) or ``"sha256"`` — hex-string gram
    keys that DuckDB can replay exactly, which is what lets the
    ``q_fingerprint_winnow`` 'excise' roster branch hash-match an
    oracle; 8x the shuffle width, so only the verification tier pays
    it. In sha256 mode the output gains a ``min_excised_gram`` column
    (the smallest shared gram hash marked in each victim, NULL on
    clean docs) so the marking set itself is oracle-checkable.

    Plan shape at 100 TB — NO pair expansion anywhere (unlike
    detection, excision never needs pairs): one codegen scan stages
    tokens and per-position gram hashes (xxhash64 by default, see
    above), then the keeper of each shared gram comes from
    ``groupBy(h).agg(min(struct(prio, id)))`` joined back to the
    occurrences — NOT a window over raw gram occurrences. The
    distinction is the whole 100 TB story (round 8, closing the
    round-7 skew finding): partial aggregation collapses a hot
    boilerplate gram to one row per map task before the shuffle, so a
    gram held by millions of documents costs the keeper stage nothing,
    where ``Window.partitionBy(h)`` would land every holder on ONE
    task. (A perdoc-staged variant was measured and rejected — see
    the adjudication note at the keeper aggregation below.) Grams in a single document (min(id) == max(id)) are dropped
    BEFORE the join, so the join's build side holds only genuinely
    shared grams (most grams are unique — this is the big filter).
    The join back on ``h`` is AQE-skew-splittable (unlike a window).
    Then one shuffle on the victim doc id collects contaminated
    positions, and char-exact surgery runs via an Arrow-batched pandas
    UDF over ONLY the contaminated docs (clean docs ride an anti-join
    passthrough, no python). Self-repeats inside a single document are
    NOT duplication here (cross-doc op; within-doc repetition is
    functions.text.repetition_signals_expr's job).

    Returns ``df``'s columns with ``text_col`` rewritten plus
    ``n_excised_spans`` / ``n_excised_tokens`` counters. Text outside
    the cuts survives byte-exact: a cut removes the span's tokens and
    the whitespace run UP TO the next surviving token (interior cut
    "a X Y b" -> "a b"; trailing cut "a X Y" -> "a").

    The contaminated-docs table is persisted (both output branches
    consume it, and Spark does not ReuseExchange across a union's
    branches — without the pin the corpus-scale gram shuffle runs
    TWICE, verified round 7); it belongs to the enclosing scope
    (``scope.pin``). Pass ``cache_victims=False`` when only ONE branch
    will execute (a consumer filtering to ``n_excised_spans > 0``
    constant-folds the clean branch away): there the pin is pure cost
    (q_fingerprint_winnow, sf0.1, 4 vCPU: 3.8-4.5 s vs 4.6-5.7 s warm)."""
    from snapflow_spark.functions.text import TOKEN_RE

    if min_span_tokens is None:
        min_span_tokens = n
    prio = F.col(priority_col) if priority_col else F.col(id_col)

    if hash_fn == "xxhash64":
        hasher = lambda g: F.xxhash64(g)  # noqa: E731 (varargs: not
        # directly usable as a transform() lambda)
    elif hash_fn == "sha256":
        # BINARY key internally (round 17, guide §2.2 narrower shuffle
        # types): unhex halves the gram key on all three keyed
        # exchanges (32 B vs the 64-char hex string). Equivalence to
        # the hex form is an order-isomorphism, not an approximation:
        # equal-length byte strings compare unsigned byte-by-byte,
        # each byte maps to two hex chars high-nibble-first, and the
        # lowercase hex digits '0'..'9','a'..'f' are ASCII-ordered
        # exactly like their nibble values — so grouping, the join,
        # and min() all carry over, and the one surviving hex value
        # per victim is re-rendered at the output projection
        # (lower(hex(...)), bit-identical to sha2's hex).
        hasher = lambda g: F.unhex(F.sha2(g, 256))  # noqa: E731
    else:
        raise ValueError(f"hash_fn must be xxhash64 or sha256, got {hash_fn!r}")

    toks = ensure_parallelism(df).select(
        F.col(id_col).alias("__id"),
        prio.alias("__prio"),
        tokens_expr(text_col).alias("__toks"),
    ).where(F.size("__toks") >= int(n))
    hashed_grams = memo_fragment(
        ("dedup.excise_grams", "__toks", n, hash_fn),
        lambda: F.transform(ngram_expr(F.col("__toks"), n), hasher),
    )
    grams = toks.select(
        "__id",
        "__prio",
        F.posexplode(hashed_grams).alias("pos", "h"),
    )
    # Keeper per gram hash as a partial-aggregable groupBy, NOT a
    # window (see docstring). min(id) != max(id) detects ">= 2
    # distinct holders" exactly even when a custom priority column
    # ties or inverts (min/max of the struct alone could share one
    # doc id when priorities differ across docs).
    #
    # ADJUDICATED round 8: a staged alternative — pre-collapse to one
    # row per (gram, doc) via groupBy(h, id) and feed that to both
    # the keeper agg and the join probe — measured a WASH-to-slightly-
    # worse at sf0.1 (isolated victims stage, interleaved min-of-7:
    # raw-join 0.95 s vs staged 1.03 s; AQE did not reuse the staged
    # exchange across the two consumers, so it paid a full corpus-
    # gram (h, id) shuffle to save a map-side scan recompute). At
    # 100 TB that trade tilts further toward this form: the probe-side
    # recompute is embarrassingly parallel scan work, while the extra
    # shuffle is corpus-wide I/O — and the keeper agg is equally
    # partial-agg'd/skew-safe either way.
    aggs = [
        F.min(F.struct(F.col("__prio"), F.col("__id")))
        .getField("__id")
        .alias("__keeper"),
        F.min("__id").alias("__lo"),
        F.max("__id").alias("__hi"),
    ]
    if max_df is not None:
        aggs.append(F.count_distinct("__id").alias("__df"))
    keepers = grams.groupBy("h").agg(*aggs).where(F.col("__lo") != F.col("__hi"))
    if max_df is not None:
        keepers = keepers.where(F.col("__df") <= int(max_df))
    victim_aggs = [F.sort_array(F.collect_list("pos")).alias("__positions")]
    if hash_fn == "sha256":
        victim_aggs.append(F.min("h").alias("__min_gram"))
    victims = (
        grams.join(keepers.select("h", "__keeper"), "h")
        .where(F.col("__id") != F.col("__keeper"))
        .groupBy("__id")
        .agg(*victim_aggs)
    )
    if cache_victims:
        victims = pin(victims)

    gram_n, min_span = int(n), int(min_span_tokens)

    @F.pandas_udf("struct<text:string, n_spans:int, n_tokens:int>")
    def _surgery(texts: pd.Series, positions: pd.Series) -> pd.DataFrame:
        import re

        tok_re = re.compile(TOKEN_RE)

        def cut(text: str, pos) -> tuple[str, int, int]:
            spans: list[list[int]] = []
            for p in pos:  # sorted ascending
                p = int(p)
                if spans and p <= spans[-1][1] + 1:
                    spans[-1][1] = max(spans[-1][1], p + gram_n - 1)
                else:
                    spans.append([p, p + gram_n - 1])
            toks = list(tok_re.finditer(text))
            cuts: list[tuple[int, int]] = []
            removed = 0
            for a, b in spans:
                b = min(b, len(toks) - 1)
                if a >= len(toks) or b - a + 1 < min_span:
                    continue
                start = toks[a].start()
                if b + 1 < len(toks):
                    end = toks[b + 1].start()
                elif a > 0:
                    # trailing span: swallow the whitespace BEFORE it
                    start, end = toks[a - 1].end(), toks[b].end()
                else:
                    start, end = 0, len(text)  # whole doc duplicated
                cuts.append((start, end))
                removed += b - a + 1
            out, prev = [], 0
            for cs, ce in cuts:
                out.append(text[prev:cs])
                prev = ce
            out.append(text[prev:])
            return "".join(out), len(cuts), removed

        res = [cut(t, p) for t, p in zip(texts, positions)]
        return pd.DataFrame(
            {
                "text": [r[0] for r in res],
                "n_spans": pd.Series([r[1] for r in res], dtype="int32"),
                "n_tokens": pd.Series([r[2] for r in res], dtype="int32"),
            }
        )

    others = [c for c in df.columns if c != text_col]
    gram_cols = (
        [F.lit(None).cast("string").alias("min_excised_gram")]
        if hash_fn == "sha256"
        else []
    )
    clean = df.join(
        victims, df[id_col] == victims["__id"], "left_anti"
    ).select(
        *others,
        F.col(text_col),
        F.lit(0).alias("n_excised_spans"),
        F.lit(0).alias("n_excised_tokens"),
        *gram_cols,
    )
    touched_gram_cols = (
        # binary -> the hex string the contract (and oracle) expects;
        # min(binary) == min(hex) by the order-isomorphism above
        [F.lower(F.hex(F.col("__min_gram"))).alias("min_excised_gram")]
        if hash_fn == "sha256"
        else []
    )
    touched = (
        df.join(victims, df[id_col] == victims["__id"], "inner")
        .withColumn("__cut", _surgery(F.col(text_col), F.col("__positions")))
        .select(
            *others,
            F.col("__cut.text").alias(text_col),
            F.col("__cut.n_spans").alias("n_excised_spans"),
            F.col("__cut.n_tokens").alias("n_excised_tokens"),
            *touched_gram_cols,
        )
    )
    return clean.unionByName(touched)
