"""Text-analysis functions (SURVEY.md §2.B.11 north-star ops).

Two tiers, chosen by the 100 TB rule "UDFs are the slow path":
- *_expr: pure Column expressions (JVM codegen) — language ID, quality
  scoring, tokenization. These are the defaults.
- *_udf: Arrow-vectorized pandas UDFs for logic Spark expressions
  can't express (simhash bit packing). Batch transfer via Arrow, never
  row-at-a-time python.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, FloatType, IntegerType, LongType

from snapflow_spark.functions.fragments import memo_fragment

TOKEN_RE = r"\S+"

# Tiny per-language stopword marker sets for the n-gram/stopword
# language-ID heuristic. Deliberately small: the point is the operator
# shape (score per language -> argmax), not lexicon quality.
_LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "die", "und", "ist", "das"],
    "fr": ["le", "la", "et", "est", "les"],
    "es": ["el", "la", "y", "es", "los"],
    "zh": ["的", "是", "和"],
}


# GPT-2-style pre-tokenizer, constrained to the regex subset BOTH
# Java (Spark) and RE2 (DuckDB oracle) support identically: no
# lookahead, non-capturing groups, unicode classes. Verified to give
# identical token streams in both engines.
BPE_RE = r"'(?:s|t|re|ve|m|ll|d)| ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+|\s+"


def ngram_expr(tokens: Column, n: int = 3) -> Column:
    """Sliding word n-grams as an array column (codegen, no UDF);
    fewer than n tokens degrade to one whole-text gram.

    Built as a fold of ``zip_with`` over n shifted O(len) slices —
    ONE pass over the token array per doc. The per-position
    alternatives both lose badly at corpus scale (round-5 DSIR
    profiling, sf0.1): ``transform + concat_ws(slice(i, n))`` copies
    a fresh n-array per position (~5x slower), ``transform +
    element_at`` pays ANSI-checked per-element lookups (~9x slower).
    Same family of lesson as winnow_fingerprints_expr's staging
    note: array expressions that look O(1) per element often aren't."""
    m = F.size(tokens) - (n - 1)
    acc = F.slice(tokens, 1, m)
    for j in range(1, n):
        acc = F.zip_with(
            acc,
            F.slice(tokens, 1 + j, m),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    return F.when(F.size(tokens) >= n, acc).otherwise(
        F.array(F.concat_ws(" ", tokens))
    )


def bpe_tokens_expr(col: str | Column) -> Column:
    """BPE-ish pre-tokenization (contractions / letter runs / digit
    runs / punctuation runs, space-prefixed) — the token-count basis a
    training-data pipeline budgets by. Pure JVM regex."""
    if isinstance(col, str):
        return memo_fragment(
            ("text.bpe_tokens", col),
            lambda: F.regexp_extract_all(F.col(col), F.lit(BPE_RE), 0),
        )
    return F.regexp_extract_all(col, F.lit(BPE_RE), 0)


def gram_hashes_expr(tokens: Column, n: int = 3) -> Column:
    """sha256 hex per token n-gram — sha256 is the one hash Spark and
    the DuckDB oracle share bit-for-bit, which makes fingerprints
    hash-matchable cross-engine. (xxhash64 is the cheaper at-scale
    choice when oracle parity is not needed.)"""
    return F.transform(ngram_expr(tokens, n), lambda s: F.sha2(s, 256))


def winnow_fingerprints_expr(hashes: Column, w: int = 4) -> Column:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    MOSS): slide a w-window over the gram-hash sequence, keep each
    window's minimum, distinct the result. The rolling-hash
    fingerprint family for plagiarism/near-dup detection.

    ``hashes`` MUST be a materialized column (stage gram_hashes_expr
    in its own select first): the window transform references it once
    per window, and an inline subtree would re-hash every gram per
    window — measured O(n^2): 19s -> 2s on sf0.01."""
    wins = F.when(
        F.size(hashes) >= w,
        F.transform(
            F.sequence(F.lit(0), F.size(hashes) - w),
            lambda i: F.array_min(F.slice(hashes, i + 1, w)),
        ),
    ).otherwise(F.array(F.array_min(hashes)))
    return F.array_distinct(wins)


def tokens_expr(col: str | Column) -> Column:
    """Whitespace tokenization as a JVM regex — the canonical token
    column every downstream text op builds on. Plain-string inputs are
    memoized per context (functions/fragments.py): the fragment is a
    pure function of the column NAME, and queries rebuild it every
    construction."""
    if isinstance(col, str):
        return memo_fragment(
            ("text.tokens", col),
            lambda: F.regexp_extract_all(F.col(col), F.lit(TOKEN_RE), 0),
        )
    return F.regexp_extract_all(col, F.lit(TOKEN_RE), 0)


def token_count_expr(col: str | Column) -> Column:
    if isinstance(col, str):
        return memo_fragment(
            ("text.token_count", col), lambda: F.size(tokens_expr(col))
        )
    return F.size(tokens_expr(col))


def _token_count_batch(texts: pd.Series) -> pd.Series:
    return texts.str.findall(TOKEN_RE).str.len().astype("int32")


def token_count_udf(col: str | Column) -> Column:
    """Arrow-vectorized token counter — the pandas-UDF form of
    token_count_expr, kept as the reference python-snap example
    (SURVEY §2.B.9). Semantics identical to the expr variant. Built at
    call time (pandas_udf registration needs an active session)."""
    c = F.col(col) if isinstance(col, str) else col
    return pandas_udf(_token_count_batch, IntegerType())(c)


def lang_id_expr(col: str | Column) -> Column:
    """Heuristic language ID: stopword-marker hit counts per language,
    argmax wins (ties broken by language code order). Pure Column
    algebra -> whole-stage codegen, no UDF."""
    if isinstance(col, str):
        return memo_fragment(
            ("text.lang_id", col), lambda: lang_id_expr(F.col(col))
        )
    c = col
    toks = F.regexp_extract_all(F.lower(c), F.lit(r"[\p{L}]+"), 0)
    def _contains(marker_arr):
        # real closure: a default-arg lambda would read as a 2-arg
        # (element, index) lambda to Spark's higher-order filter
        return lambda t: F.array_contains(marker_arr, t)

    scores = []
    for lang, markers in _LANG_MARKERS.items():
        marker_arr = F.array(*[F.lit(x) for x in markers])
        scores.append((lang, F.size(F.filter(toks, _contains(marker_arr)))))
    best = None
    for lang, score in scores:
        pair = F.struct(score.alias("score"), F.lit(lang).alias("lang"))
        best = pair if best is None else F.when(
            (pair.getField("score") > best.getField("score")), pair
        ).otherwise(best)
    return best.getField("lang")


def quality_score_expr(col: str | Column) -> Column:
    """Document quality heuristic in [0,1]: penalize very short docs,
    high punctuation ratio, and low stopword ratio (the classic
    pre-training corpus filters), as one codegen expression."""
    if isinstance(col, str):
        return memo_fragment(
            ("text.quality_score", col),
            lambda: quality_score_expr(F.col(col)),
        )
    c = col
    n_chars = F.length(c)
    toks = tokens_expr(c)
    n_toks = F.size(toks)
    n_punct = n_chars - F.length(F.regexp_replace(c, r"[.,;:!?'\"()\[\]{}]", ""))
    punct_ratio = F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0))
    stop = F.array(*[F.lit(w) for w in _LANG_MARKERS["en"]])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop, F.lower(t))))
    stop_ratio = F.when(n_toks > 0, n_stop / n_toks).otherwise(F.lit(0.0))
    length_score = F.least(n_toks / F.lit(50.0), F.lit(1.0))
    return F.round(
        0.5 * length_score + 0.25 * (1 - F.least(punct_ratio * 5, F.lit(1.0)))
        + 0.25 * F.least(stop_ratio * 5, F.lit(1.0)),
        6,
    )


def repetition_signals_expr(col: str | Column) -> Column:
    """Within-document repetition signals (the Gopher/MassiveText-style
    repetition filters): a struct of
      dup_line_frac   — fraction of non-empty lines that are repeats
      dup_2gram_frac  — fraction of token 2-gram instances that repeat
      dup_3gram_frac  — same for 3-grams
    each as (total - distinct) / total, 0.0 for degenerate docs. High
    values flag boilerplate/spam (nav bars, SEO keyword stuffing,
    templated pages) that survives exact dedup because the noise
    varies. Pure Column algebra — whole-stage codegen, no UDF."""
    c = F.col(col) if isinstance(col, str) else col
    lines = F.filter(F.split(c, "\n"), lambda x: F.length(F.trim(x)) > 0)
    toks = tokens_expr(c)

    def _dup_frac(arr: Column) -> Column:
        n = F.size(arr)
        return F.when(
            n > 0, (n - F.size(F.array_distinct(arr))) / n
        ).otherwise(F.lit(0.0))

    return F.struct(
        _dup_frac(lines).alias("dup_line_frac"),
        _dup_frac(ngram_expr(toks, 2)).alias("dup_2gram_frac"),
        _dup_frac(ngram_expr(toks, 3)).alias("dup_3gram_frac"),
    )


def dedup_lines_expr(col: str | Column) -> Column:
    """Remove repeated lines WITHIN a document, preserving first-
    occurrence order (array_distinct is order-stable in Spark) — the
    line-level sibling of corpus-level exact dedup, for boilerplate
    stripping. Codegen only."""
    c = F.col(col) if isinstance(col, str) else col
    return F.concat_ws("\n", F.array_distinct(F.split(c, "\n")))


# PII scrubbing patterns, ordered so URL runs before the bare-domain
# email pattern cannot eat scheme-ful URLs' userinfo
_PII_PATTERNS: list[tuple[str, str]] = [
    (r"https?://[^\s]+", "<URL>"),
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    (r"(?<!\d)(?:\+?\d{1,2}[ .-]?)?\(?\d{3}\)?[ .-]?\d{3}[ .-]?\d{4}(?!\d)", "<PHONE>"),
]


def scrub_pii_expr(col: str | Column) -> Column:
    """Redact emails / URLs / IPv4s / US-style phone numbers with
    typed placeholder tokens — the standard pre-training scrub pass.
    A chain of JVM regexp_replace calls (codegen, no UDF); patterns
    are deliberately conservative (precision over recall: a missed
    phone number beats mangling arithmetic in code/prose)."""
    c = F.col(col) if isinstance(col, str) else col
    for pat, repl in _PII_PATTERNS:
        c = F.regexp_replace(c, pat, repl)
    return c


def fingerprint_expr(col: str | Column, n_chars: int = 64) -> Column:
    """Deterministic document fingerprint: sha2-256 of the
    whitespace-normalized lowercased text — the exact-dedup key."""
    if isinstance(col, str):
        return memo_fragment(
            ("text.fingerprint", col, n_chars),
            lambda: fingerprint_expr(F.col(col), n_chars),
        )
    normalized = F.regexp_replace(F.trim(F.lower(col)), r"\s+", " ")
    return F.sha2(normalized, 256).substr(1, n_chars)


def _simhash_sha_bands_batch(texts: pd.Series) -> pd.Series:
    """sha256 simhash band values, vectorized per Arrow batch — the
    engine-side twin of the q_dedup_simhash SQL oracle. Per token
    INSTANCE the first 8 sha256 bytes vote bitwise (big-endian bit
    order = the oracle's hex-nibble extraction); bit p of the
    signature is 1 iff 2*ones >= n_tokens; bits pack into 4 16-bit
    band values. sha256 runs once per DISTINCT token in the chunk
    (pd.factorize), the votes are one np.add.reduceat."""
    import hashlib

    tok_lists = texts.fillna("").str.split()
    lengths = tok_lists.str.len().to_numpy(dtype=np.int64)
    out: list = [None] * len(texts)
    nonempty = np.flatnonzero(lengths > 0)
    shifts = (63 - np.arange(64)).astype(np.uint64)  # column p -> bit p
    powers16 = (1 << np.arange(15, -1, -1)).astype(np.int64)
    chunk = 512
    for lo in range(0, len(nonempty), chunk):
        idx = nonempty[lo : lo + chunk]
        flat = np.concatenate(
            [np.asarray(tok_lists.iloc[i], dtype=object) for i in idx]
        )
        codes, uniques = pd.factorize(flat)
        uh = np.array(
            [
                int.from_bytes(hashlib.sha256(t.encode("utf-8")).digest()[:8], "big")
                for t in uniques
            ],
            dtype=np.uint64,
        )
        ubits = ((uh[:, None] >> shifts) & np.uint64(1)).astype(np.int32)
        bits = ubits[codes]  # (n_tokens, 64)
        starts = np.zeros(len(idx), dtype=np.int64)
        np.cumsum(lengths[idx][:-1], out=starts[1:])
        ones = np.add.reduceat(bits, starts, axis=0)  # (n_docs, 64)
        simbits = (2 * ones >= lengths[idx][:, None]).astype(np.int64)
        bvals = simbits.reshape(len(idx), 4, 16) @ powers16  # (n_docs, 4)
        for k, i in enumerate(idx):
            out[i] = [int(v) for v in bvals[k]]
    return pd.Series(out)


def simhash_sha_bands_udf(col: str | Column) -> Column:
    """Array of 4 16-bit sha256-simhash band values (see
    operators.dedup_text.simhash_sha_candidates)."""
    c = F.col(col) if isinstance(col, str) else col
    return pandas_udf(_simhash_sha_bands_batch, ArrayType(IntegerType()))(c)


# Oracle-reproducible MinHash constants (see minhash_sha_bands_udf):
# universal-hash permutations p_i(h) = (a_i * h + b_i) mod MH_P over
# 32-bit sha256 gram hashes reduced mod MH_P. a_i/b_i come from a
# glibc-constant LCG so BOTH engines derive them with the same exact
# integer arithmetic (no RNG state to ship across engines).
MH_P = 2147483647  # Mersenne prime 2^31 - 1
MH_LCG_A = 1103515245
MH_LCG_C = 12345
MH_K = 32  # permutations = MH_BANDS * MH_ROWS
MH_BANDS = 16
MH_ROWS = 2


def _mh_perm_coeffs() -> tuple[np.ndarray, np.ndarray]:
    i = np.arange(MH_K, dtype=np.int64)
    a = (MH_LCG_A * (i + 1) + MH_LCG_C) % (MH_P - 1) + 1  # 1..P-1, never 0
    b = (MH_LCG_A * (i + 1000) + MH_LCG_C) % MH_P
    return a, b


def _minhash_sha_bands_batch(texts: pd.Series) -> pd.Series:
    """MinHash band values per document, vectorized per Arrow batch —
    the engine-side twin of the q_dedup_minhash SQL oracle. Grams are
    distinct token 3-grams (ngram_expr semantics: <3 tokens degrade to
    one whole-text gram); each gram hashes to the first 4 sha256 bytes
    (big-endian = the oracle's hex parse) reduced mod MH_P; signature
    value i is the min over grams of (a_i*h + b_i) mod MH_P; band j
    packs rows (2j, 2j+1) into ONE bigint sig[2j]*MH_P + sig[2j+1]
    (< 2^62, exact in both engines' int64). sha256 runs once per
    DISTINCT gram in the chunk (pd.factorize); the per-doc min is one
    np.minimum.reduceat."""
    import hashlib

    tok_lists = texts.fillna("").str.split()
    a, b = _mh_perm_coeffs()
    out: list = [None] * len(texts)
    nonempty = np.flatnonzero(tok_lists.str.len().to_numpy(dtype=np.int64) > 0)
    chunk = 512
    for lo in range(0, len(nonempty), chunk):
        idx = nonempty[lo : lo + chunk]
        gram_lists = []
        for i in idx:
            toks = tok_lists.iloc[i]
            if len(toks) >= 3:
                grams = {" ".join(toks[j : j + 3]) for j in range(len(toks) - 2)}
            else:
                grams = {" ".join(toks)}
            gram_lists.append(sorted(grams))
        lengths = np.array([len(g) for g in gram_lists], dtype=np.int64)
        flat = np.concatenate([np.asarray(g, dtype=object) for g in gram_lists])
        codes, uniques = pd.factorize(flat)
        uh = np.array(
            [
                int.from_bytes(hashlib.sha256(g.encode("utf-8")).digest()[:4], "big")
                for g in uniques
            ],
            dtype=np.int64,
        ) % MH_P
        perms = (uh[codes, None] * a[None, :] + b[None, :]) % MH_P  # (grams, K)
        starts = np.zeros(len(idx), dtype=np.int64)
        np.cumsum(lengths[:-1], out=starts[1:])
        sig = np.minimum.reduceat(perms, starts, axis=0)  # (n_docs, K)
        bands = sig[:, 0::2] * MH_P + sig[:, 1::2]  # (n_docs, MH_BANDS)
        for k, i in enumerate(idx):
            out[i] = [int(v) for v in bands[k]]
    return pd.Series(out)


def minhash_sha_bands_udf(col: str | Column) -> Column:
    """Array of MH_BANDS packed-bigint MinHash band values (see
    operators.dedup_text.minhash_sha_candidates)."""
    c = F.col(col) if isinstance(col, str) else col
    return pandas_udf(_minhash_sha_bands_batch, ArrayType(LongType()))(c)


_EMB_FNV = np.uint64(1099511628211)
_EMB_MIX = np.uint64(2654435761)


def _hashed_embedding_batch(
    texts: pd.Series, dim: int, ns: tuple[int, ...], seed: np.uint64
) -> pd.Series:
    """Feature-hashing text embedding (Weinberger et al. 2009's
    hashing trick): every char n-gram Horner-folds to a uint64, the
    low bits pick a dimension, one high bit picks the sign, counts
    accumulate, the vector L2-normalizes. Deterministic (salt-seeded
    integer arithmetic, no model), vectorized per doc (n multiplies
    per n-gram ORDER, not per gram). NULL/empty texts embed as the
    zero vector (cosine 0 with everything — never a spurious match)."""
    out = []
    zero = np.zeros(dim, dtype=np.float32)
    for t in texts:
        if not isinstance(t, str) or not t.strip():
            out.append(zero)
            continue
        norm = " " + " ".join(t.lower().split()) + " "
        a = np.frombuffer(norm.encode("utf-32-le"), dtype=np.uint32).astype(
            np.uint64
        )
        v = np.zeros(dim, dtype=np.float64)
        with np.errstate(over="ignore"):
            for n in ns:
                if a.size < n:
                    continue
                m = a.size - n + 1
                h = np.zeros(m, dtype=np.uint64)
                for j in range(n):
                    h = h * _EMB_FNV + a[j : j + m]
                h = (h ^ seed) * _EMB_MIX
                idx = (h % np.uint64(dim)).astype(np.int64)
                sign = np.where(
                    (h >> np.uint64(63)) & np.uint64(1), -1.0, 1.0
                )
                np.add.at(v, idx, sign)
        nrm = float(np.linalg.norm(v))
        out.append((v / nrm).astype(np.float32) if nrm > 0 else zero)
    return pd.Series(out)


def hashed_embedding_udf(
    col: str | Column,
    dim: int = 64,
    ngrams: tuple[int, ...] = (2, 3),
    salt: str = "embed-v1",
) -> Column:
    """`array<float>` hashed char-n-gram embedding of a text column —
    the model-free bridge from a TEXT-ONLY corpus into the embedding
    family (semantic_dedup / d4_select / IVF-PQ ANN all consume it
    directly). Near-identical texts land near cosine 1 because their
    gram multisets almost coincide; it is a lexical embedding, not a
    semantic one — use real model embeddings when available, this
    when they are not (the engine's multimodal decode-stub stance).
    One Arrow-batched pass, weights-free; built at call time
    (pandas_udf registration needs an active session)."""
    import hashlib

    c = F.col(col) if isinstance(col, str) else col
    seed = np.uint64(
        int.from_bytes(hashlib.sha256(salt.encode()).digest()[:8], "big")
    )
    ns = tuple(int(n) for n in ngrams)
    d = int(dim)

    @pandas_udf(ArrayType(FloatType()))
    def emb(texts: pd.Series) -> pd.Series:
        return _hashed_embedding_batch(texts, d, ns, seed)

    return emb(c)
