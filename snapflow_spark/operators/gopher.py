"""Gopher quality rules (Rae et al. 2021, Appendix A) — the
published heuristic document-filter battery that MassiveText, and
after it RefinedWeb / Dolma / FineWeb, apply between URL hygiene and
model-based scoring. Completes the engine's quality-signal family:
heuristic score (functions/text.py), trained classifier
(operators/classifier.py), LM perplexity + DSIR (operators/
selection.py), trained lang-id (operators/langid.py) — and now the
named rule set reviewers actually cite, with every signal exposed per
document so thresholds stay auditable.

Two signal tiers, two plan shapes:

- PER-ROW RULES — word count bounds, mean word length, '#'/'...'
  symbol-to-word ratios, bullet-start and ellipsis-end line
  fractions, alphabetic-word fraction, required-stopword hits — are
  pure codegen string/array algebra: one projection, no shuffle, no
  python.
- REPETITION RULES — duplicate line/paragraph fractions (by count
  and by character mass) and top/duplicated word-n-gram character
  fractions for n = 2..10 — are PER-DOCUMENT statistics, so they need
  NO shuffle: ONE Arrow-batched pandas UDF computes all thirteen
  fractions per batch with vectorized numpy/pandas (factorize-coded
  units, bincount tallies). Round 17 (optimization): the previous
  pure-expression tier (per-kind ``array_sort`` + ``F.aggregate``
  folds over xxhash64 unit structs) was measured at 5.8 s for the
  repetition signals alone over 1.5 MB of sf0.1 text — Spark's
  higher-order array functions (``aggregate``/``zip_with``/
  ``transform``) are CodegenFallback, i.e. interpreted per element,
  so 11 sorted folds + a 9-pass gram-hash chain burned ~4 ms/KB of
  CPU. The Arrow tier computes the identical numbers (string
  equality via per-batch integer coding — strictly MORE exact than
  the old xxhash64 tier, and what the DuckDB oracle replays) at
  vectorized-C speed; guide §4.2's rule ("hand whole batches to
  native libraries rather than chaining interpreted JVM
  expressions"). Alternatives measured and rejected earlier stand:
  exploding units into a groupBy(id, kind, unit) count shuffles ~11×
  the corpus's token bytes at 100 TB to compute numbers every row
  can compute locally.
  Parity pins: tokens are Java-default ``\\S+`` (ASCII whitespace
  class — python ``re.ASCII`` matches it exactly, unlike python's
  unicode-aware default); line/para trim strips U+0020 only
  (``str.strip(' ')``), matching ``F.trim`` and DuckDB ``trim``;
  unit lengths are code-point counts (python ``len``, matching
  ``F.length``).

Definitional choices (implementations differ; these are pinned here
and replayed verbatim by the DuckDB oracle): duplicate line/paragraph
fractions count occurrences BEYOND the first (what a dedup pass would
remove — (cnt-1)/total by count, (cnt-1)·len/total by chars);
duplicate-n-gram character fractions count ALL occurrences of any
duplicated gram (the de-facto convention in public reimplementations);
top-n-gram character fraction is max(cnt·len)/total gram chars.
N-grams join words with single spaces; docs with fewer than n words
contribute their whole text as one degenerate gram (never duplicated,
so the rule passes — matching ngram_expr's documented degradation).
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType, StructField, StructType

from snapflow_spark.functions.fragments import memo_fragment
from snapflow_spark.functions.text import tokens_expr

__all__ = [
    "GOPHER_DEFAULTS",
    "gopher_quality_filter",
    "gopher_signals",
]

#: Rae et al. 2021 Appendix A1 thresholds, keyed by signal column.
GOPHER_DEFAULTS: dict[str, float] = {
    "min_words": 50,
    "max_words": 100_000,
    "min_mean_word_len": 3.0,
    "max_mean_word_len": 10.0,
    "max_hash_word_ratio": 0.1,
    "max_ellipsis_word_ratio": 0.1,
    "max_bullet_line_frac": 0.90,
    "max_ellipsis_line_frac": 0.30,
    "min_alpha_word_frac": 0.80,
    "min_stop_hits": 2,
    "max_dup_line_frac": 0.30,
    "max_dup_para_frac": 0.30,
    "max_dup_line_char_frac": 0.20,
    "max_dup_para_char_frac": 0.20,
    "max_top2_char_frac": 0.20,
    "max_top3_char_frac": 0.18,
    "max_top4_char_frac": 0.16,
    "max_dup5_char_frac": 0.15,
    "max_dup6_char_frac": 0.14,
    "max_dup7_char_frac": 0.13,
    "max_dup8_char_frac": 0.12,
    "max_dup9_char_frac": 0.11,
    "max_dup10_char_frac": 0.10,
}

#: The paper's required-stopword list ("must contain at least two").
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")

_TOP_NS = (2, 3, 4)
_DUP_NS = (5, 6, 7, 8, 9, 10)

#: Every signal gopher_signals emits, in the canonical order the
#: roster branch fingerprints them (and the DuckDB oracle replays).
SIGNAL_COLUMNS = (
    "n_words", "mean_word_len", "hash_word_ratio", "ellipsis_word_ratio",
    "bullet_line_frac", "ellipsis_line_frac", "alpha_word_frac", "stop_hits",
    "dup_line_frac", "dup_line_char_frac", "dup_para_frac",
    "dup_para_char_frac",
    *(f"top{n}_char_frac" for n in _TOP_NS),
    *(f"dup{n}_char_frac" for n in _DUP_NS),
)

#: (signal, operator, threshold-key) triples defining the keep rule —
#: shared by gopher_pass_expr and the oracle SQL generator so the two
#: can never drift.
PASS_RULES = (
    ("n_words", ">=", "min_words"),
    ("n_words", "<=", "max_words"),
    ("mean_word_len", ">=", "min_mean_word_len"),
    ("mean_word_len", "<=", "max_mean_word_len"),
    ("hash_word_ratio", "<=", "max_hash_word_ratio"),
    ("ellipsis_word_ratio", "<=", "max_ellipsis_word_ratio"),
    ("bullet_line_frac", "<=", "max_bullet_line_frac"),
    ("ellipsis_line_frac", "<=", "max_ellipsis_line_frac"),
    ("alpha_word_frac", ">=", "min_alpha_word_frac"),
    ("stop_hits", ">=", "min_stop_hits"),
    ("dup_line_frac", "<=", "max_dup_line_frac"),
    ("dup_para_frac", "<=", "max_dup_para_frac"),
    ("dup_line_char_frac", "<=", "max_dup_line_char_frac"),
    ("dup_para_char_frac", "<=", "max_dup_para_char_frac"),
    *((f"top{n}_char_frac", "<=", f"max_top{n}_char_frac") for n in _TOP_NS),
    *((f"dup{n}_char_frac", "<=", f"max_dup{n}_char_frac") for n in _DUP_NS),
)


#: The thirteen repetition signals, in SIGNAL_COLUMNS order.
_REP_FIELDS = (
    "dup_line_frac", "dup_line_char_frac", "dup_para_frac",
    "dup_para_char_frac",
    *(f"top{n}_char_frac" for n in _TOP_NS),
    *(f"dup{n}_char_frac" for n in _DUP_NS),
)
_REP_SCHEMA = StructType(
    [StructField(f, DoubleType(), True) for f in _REP_FIELDS]
)

#: Java-default ``\S+`` (ASCII \s = [ \t\n\x0B\f\r]); python's re.ASCII
#: flag reproduces it exactly — python's unicode-aware default would
#: additionally split on NBSP and friends, diverging from Spark/DuckDB.
_TOKEN_ASCII_RE = re.compile(r"\S+", re.ASCII)
_PARA_SPLIT_RE = re.compile(r"\n{2,}")


def _unit_dup_stats(
    units: list, docs: list, n_docs: int
) -> tuple[np.ndarray, np.ndarray]:
    """(dup_frac, dup_char_frac) per doc for one string-unit kind
    (lines or paragraphs): occurrences beyond the first of each
    duplicated unit, by count and by character mass. Vectorized:
    units are factorize-coded once per batch, duplicate groups found
    with bincount — no sort, exact string equality."""
    frac = np.zeros(n_docs)
    cfrac = np.zeros(n_docs)
    if not units:
        return frac, cfrac
    d = np.asarray(docs, dtype=np.int64)
    lens = np.fromiter((len(u) for u in units), dtype=np.int64, count=len(units))
    codes, uniq = pd.factorize(np.asarray(units, dtype=object))
    key = d * np.int64(len(uniq) + 1) + codes
    k, ku = pd.factorize(key)
    c = np.bincount(k)
    glen = np.zeros(len(ku), dtype=np.int64)
    glen[k] = lens
    gdoc = np.zeros(len(ku), dtype=np.int64)
    gdoc[k] = d
    tu = np.bincount(d, minlength=n_docs).astype(np.float64)
    tc = np.bincount(d, weights=lens, minlength=n_docs)
    dup = c > 1
    eu = np.bincount(gdoc[dup], weights=(c[dup] - 1), minlength=n_docs)
    ec = np.bincount(
        gdoc[dup], weights=(c[dup] - 1) * glen[dup], minlength=n_docs
    )
    np.divide(eu, tu, out=frac, where=tu > 0)
    np.divide(ec, tc, out=cfrac, where=tc > 0)
    return frac, cfrac


@pandas_udf(_REP_SCHEMA)
def _rep_signals_udf(texts: pd.Series) -> pd.DataFrame:
    """All thirteen repetition fractions per document, vectorized.

    Word n-gram tiers chain-code grams: per-batch word ids from
    pd.factorize, then tier n's code at position i is
    factorize(code_{n-1}[i] * V + id[i+n-1]) — two grams get equal
    codes iff their word sequences are equal (exact, no hashing).
    Windows crossing document boundaries get codes too (harmless) but
    are masked out of the per-(doc, gram) tallies. Gram char length =
    windowed sum of word lengths (+ n-1 joiner spaces) via one cumsum.
    Degenerate docs (fewer than n words) contribute ONE whole-text
    gram, never duplicated — the ngram_expr contract the oracle
    replays. NULL text yields all-zero fractions (pinned round 17)."""
    n_docs = len(texts)
    out = {f: np.zeros(n_docs) for f in _REP_FIELDS}
    if n_docs == 0:
        return pd.DataFrame(out, columns=list(_REP_FIELDS))
    tok_lists: list[list[str]] = []
    line_units: list[str] = []
    line_docs: list[int] = []
    para_units: list[str] = []
    para_docs: list[int] = []
    m = np.zeros(n_docs, dtype=np.int64)
    for i, t in enumerate(texts):
        if not isinstance(t, str):
            tok_lists.append([])
            continue
        toks = _TOKEN_ASCII_RE.findall(t)
        tok_lists.append(toks)
        m[i] = len(toks)
        for x in t.split("\n"):
            x = x.strip(" ")  # F.trim / DuckDB trim: U+0020 only
            if x:
                line_units.append(x)
                line_docs.append(i)
        for x in _PARA_SPLIT_RE.split(t):
            x = x.strip(" ")
            if x:
                para_units.append(x)
                para_docs.append(i)

    for kind, units, docs in (
        ("line", line_units, line_docs),
        ("para", para_units, para_docs),
    ):
        frac, cfrac = _unit_dup_stats(units, docs, n_docs)
        out[f"dup_{kind}_frac"] = frac
        out[f"dup_{kind}_char_frac"] = cfrac

    total_words = int(m.sum())
    if total_words > 2**31:
        raise ValueError(
            "gopher repetition tier: >2^31 words in one Arrow batch — "
            "lower spark.sql.execution.arrow.maxRecordsPerBatch"
        )
    doc_chars = np.zeros(n_docs, dtype=np.int64)
    if total_words:
        all_words = np.empty(total_words, dtype=object)
        pos = 0
        for toks in tok_lists:
            all_words[pos : pos + len(toks)] = toks
            pos += len(toks)
        wdoc = np.repeat(np.arange(n_docs, dtype=np.int64), m)
        wl = np.fromiter(
            (len(w) for w in all_words), dtype=np.int64, count=total_words
        )
        wid, wuniq = pd.factorize(all_words)
        V = np.int64(len(wuniq) + 1)
        cum = np.concatenate(([0], np.cumsum(wl)))
        doc_chars = np.bincount(wdoc, weights=wl, minlength=n_docs).astype(
            np.int64
        )
    # whole-text degenerate gram length: sum(word lens) + joiner gaps
    whole_len = doc_chars + np.maximum(m - 1, 0)
    prev = wid.astype(np.int64) if total_words else np.empty(0, dtype=np.int64)
    for n in sorted((*_TOP_NS, *_DUP_NS)):
        key_name = (
            f"top{n}_char_frac" if n in _TOP_NS else f"dup{n}_char_frac"
        )
        tc = whole_len.astype(np.float64)  # degenerate default per doc
        num = (
            whole_len.astype(np.float64)
            if n in _TOP_NS
            else np.zeros(n_docs)
        )
        w = total_words - n + 1  # positions carrying an n-gram code
        if w > 0:
            key = prev[:w] * V + wid[n - 1 :]
            prev, pu = pd.factorize(key)
            valid = wdoc[:w] == wdoc[n - 1 :]
            if valid.any():
                gd = wdoc[:w][valid]
                starts = np.flatnonzero(valid)
                glen = (cum[starts + n] - cum[starts]) + (n - 1)
                gkey = gd * np.int64(len(pu) + 1) + prev[:w][valid]
                k, ku = pd.factorize(gkey)
                c = np.bincount(k)
                glen_u = np.zeros(len(ku), dtype=np.int64)
                glen_u[k] = glen
                gdoc_u = np.zeros(len(ku), dtype=np.int64)
                gdoc_u[k] = gd
                run_char = c * glen_u
                live = m >= n  # docs with real windows this tier
                tc_live = np.bincount(gd, weights=glen, minlength=n_docs)
                tc = np.where(live, tc_live, tc)
                if n in _TOP_NS:
                    top = np.zeros(n_docs, dtype=np.int64)
                    np.maximum.at(top, gdoc_u, run_char)
                    num = np.where(live, top.astype(np.float64), num)
                else:
                    dup = c > 1
                    dac = np.bincount(
                        gdoc_u[dup], weights=run_char[dup], minlength=n_docs
                    )
                    num = np.where(live, dac, num)
        frac = np.zeros(n_docs)
        np.divide(num, tc, out=frac, where=tc > 0)
        out[key_name] = frac
    return pd.DataFrame(out, columns=list(_REP_FIELDS))


def _stop_hits_expr(lw: Column, stopwords: tuple[str, ...]) -> Column:
    return sum(
        (F.array_contains(lw, sw.lower()).cast("int") for sw in stopwords),
        F.lit(0),
    )


def gopher_signals(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    stopwords: tuple[str, ...] | None = None,
    stopwords_by_lang: dict[str, tuple[str, ...]] | None = None,
    lang_col: str = "lang",
) -> DataFrame:
    """Append every Gopher signal column to ``df`` (one row per input
    row): n_words, mean_word_len, hash_word_ratio,
    ellipsis_word_ratio, bullet_line_frac, ellipsis_line_frac,
    alpha_word_frac, stop_hits, dup_line_frac, dup_line_char_frac,
    dup_para_frac, dup_para_char_frac, top{2,3,4}_char_frac,
    dup{5..10}_char_frac. Plan: per-row rules as one codegen
    projection + the repetition tier as ONE Arrow-batched pandas UDF
    (module doc); no shuffle, exactly one python crossing. ``id_col``
    is part of the stable API but unused here: nothing leaves the
    row.

    The required-stopword rule is the ONE language-coupled signal in
    the battery (the paper's list is English; on any other language it
    rejects everything). Retarget it with ``stopwords=`` (one list for
    the whole corpus) or ``stopwords_by_lang=`` (a dict keyed by the
    values of ``lang_col`` — e.g. ``core.lang_id``'s output — compiled
    to ONE codegen when-chain, so per-language routing costs no join,
    no shuffle, no python; rows whose language has no entry fall back
    to ``stopwords``/the paper list). Every other signal is
    script-agnostic as published (``\\p{L}`` alpha classes, character
    fractions)."""
    # Per-context memo of the UNALIASED per-row battery (round 18,
    # functions/fragments.py): ~460 py4j round trips per construction
    # (the stopword array_contains chain alone is 8 casts + a fold),
    # rebuilt identically per bench rep. Key carries every input that
    # shapes the expressions; aliasing happens fresh per use below.
    frag_key = (
        "gopher.base",
        text_col,
        repr(stopwords),
        repr(sorted((stopwords_by_lang or {}).items())),
        lang_col,
    )

    def _build_base() -> dict[str, Column]:
        text = F.col(text_col)
        words = tokens_expr(text)
        lw = F.transform(words, F.lower)
        n_words = F.size(words)
        word_chars = F.length(F.regexp_replace(text, r"\s", ""))
        n_hash = F.length(text) - F.length(F.regexp_replace(text, r"#", ""))
        n_ellipsis = (
            F.length(text) - F.length(F.regexp_replace(text, r"\.\.\.", ""))
        ) / F.lit(3)
        lines_all = F.split(text, r"\n")
        lines = F.filter(lines_all, lambda x: x.rlike(r"\S"))
        n_lines = F.size(lines)
        bullets = F.size(F.filter(lines, lambda x: x.rlike(r"^\s*[-*•‣▪]")))
        ell_lines = F.size(
            F.filter(lines, lambda x: x.rlike(r"(\.\.\.|…)\s*$"))
        )
        alpha_words = F.size(F.filter(words, lambda w: w.rlike(r"\p{L}")))
        default_stops = tuple(stopwords) if stopwords else GOPHER_STOPWORDS
        stop_hits = _stop_hits_expr(lw, default_stops)
        if stopwords_by_lang:
            routed = None
            for lang in sorted(stopwords_by_lang):
                cnt = _stop_hits_expr(lw, tuple(stopwords_by_lang[lang]))
                cond = F.col(lang_col) == lang
                routed = (
                    F.when(cond, cnt)
                    if routed is None
                    else routed.when(cond, cnt)
                )
            stop_hits = routed.otherwise(stop_hits)
        fl = "double"
        return {
            "n_words": n_words,
            "mean_word_len": (word_chars / F.nullif(n_words, F.lit(0))).cast(fl),
            "hash_word_ratio": (n_hash / F.nullif(n_words, F.lit(0))).cast(fl),
            "ellipsis_word_ratio": (
                n_ellipsis / F.nullif(n_words, F.lit(0))
            ).cast(fl),
            "bullet_line_frac": (bullets / F.nullif(n_lines, F.lit(0))).cast(fl),
            "ellipsis_line_frac": (
                ell_lines / F.nullif(n_lines, F.lit(0))
            ).cast(fl),
            "alpha_word_frac": (
                alpha_words / F.nullif(n_words, F.lit(0))
            ).cast(fl),
            "stop_hits": stop_hits,
        }

    # memo_fragment stores Columns; a dict of them is equally immutable
    base_cols: dict[str, Column] = memo_fragment(frag_key, _build_base)
    base = df.select(
        "*", *[c.alias(name) for name, c in base_cols.items()]
    )

    # --- repetition tier: ONE Arrow-vectorized crossing ------------
    # (round 17 — see module doc: the interpreted fold battery this
    # replaces cost ~4 ms/KB of task CPU). Only text_col crosses the
    # boundary; the struct is materialized ONCE as a named column and
    # the thirteen GetStructField reads are free. The UDF-call column
    # and the field reads are memoized like the battery above (the
    # pandas_udf wrapper re-serializes the function per call).
    rep_call = memo_fragment(
        ("gopher.rep", text_col),
        lambda: _rep_signals_udf(F.col(text_col)),
    )
    with_rep = base.select("*", rep_call.alias("__rep"))
    out = with_rep.select(
        "*",
        *[
            memo_fragment(
                ("gopher.repfield", f), lambda f=f: F.col("__rep")[f]
            ).alias(f)
            for f in _REP_FIELDS
        ],
    )
    return out.drop("__rep")


def gopher_pass_expr(thresholds: dict[str, float] | None = None) -> Column:
    """Boolean over gopher_signals' columns: the paper's full keep
    rule with per-threshold overrides (pass only the keys to change).
    NULL signals (empty doc) fail the word-count floor as expected."""
    t = {**GOPHER_DEFAULTS, **(thresholds or {})}
    unknown = set(t) - set(GOPHER_DEFAULTS)
    if unknown:
        raise ValueError(f"unknown gopher thresholds: {sorted(unknown)}")

    def _build() -> Column:
        cond = F.lit(True)
        for col_name, op, key in PASS_RULES:
            c = F.col(col_name)
            cond = cond & (c >= t[key] if op == ">=" else c <= t[key])
        return F.coalesce(cond, F.lit(False))

    return memo_fragment(("gopher.pass", repr(sorted(t.items()))), _build)


def gopher_quality_filter(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    thresholds: dict[str, float] | None = None,
    keep_signals: bool = False,
    stopwords: tuple[str, ...] | None = None,
    stopwords_by_lang: dict[str, tuple[str, ...]] | None = None,
    lang_col: str = "lang",
) -> DataFrame:
    """Apply the full Gopher battery: compute signals, keep passing
    rows. ``keep_signals`` leaves the signal columns on the output for
    auditing (default drops them, returning the input shape).
    ``stopwords`` / ``stopwords_by_lang`` retarget the one
    language-coupled rule for non-English corpora (gopher_signals)."""
    sig = gopher_signals(
        df,
        text_col=text_col,
        id_col=id_col,
        stopwords=stopwords,
        stopwords_by_lang=stopwords_by_lang,
        lang_col=lang_col,
    )
    kept = sig.where(gopher_pass_expr(thresholds))
    if keep_signals:
        return kept
    return kept.select(*df.columns)
