"""C4 cleaning rules (Raffel et al. 2020, §2.2) — the line-level
filter battery the Colossal Clean Crawled Corpus applied to Common
Crawl WET text, as published in the paper and the public TensorFlow
``c4_utils.clean_page`` reference implementation. Completes the
heuristic-filter family next to the Gopher battery
(operators/gopher.py): Gopher judges whole documents, C4 EDITS them —
lines are kept or dropped individually and the page survives only if
what's left still reads like prose.

Rule set (each is a pinned, auditable definition — implementations in
the wild differ; the DuckDB oracle replays these verbatim):

LINE RULES (line = text split on ``\\r?\\n``, space-trimmed; a line
is KEPT only if every rule passes):
- ends with a terminal punctuation mark ``. ! ? "`` (the paper's
  end-quotation-mark set), and does NOT end with an ellipsis ``...``;
- contains at least ``min_words_per_line`` (default 5) words
  (split on ASCII blank runs);
- does not contain ``javascript`` (case-insensitive);
- does not contain a policy boilerplate substring (``terms of use``,
  ``privacy policy``, ``cookie policy``, ``uses cookies``,
  ``use of cookies``, ``use cookies`` — the reference
  implementation's ``_POLICY_SUBSTRINGS``).

PAGE RULES (reject the whole document):
- ``lorem ipsum`` anywhere in the lowercased text;
- a curly bracket ``{`` anywhere in the text (code, not prose);
- any bad word from the caller-supplied ``badwords`` list, matched as
  an exact lowercase token of the full text (the paper used the
  public "List of Dirty, Naughty, Obscene or Otherwise Bad Words";
  ship your own list — the default is empty so nothing is silently
  censored). Token-exact matching is a pinned deviation from the
  reference's substring-with-boundary regex: it is replayable and
  avoids the false positives the regex form is notorious for;
- fewer than ``min_num_sentences`` (default 3) sentences across the
  KEPT lines, where a sentence end is a non-overlapping match of
  ``[.!?]"?`` followed by blank-or-end (the paper used NLTK's
  sentence tokenizer; this engine pins a deterministic counter both
  engines replay exactly).

The two remaining C4 steps are intentionally NOT here because they
are cross-document or model-shaped and already exist as first-class
operators to compose with: three-sentence-span dedup →
``dedup_text.excise_shared_spans`` / winnowing; langdetect en>=0.99 →
``operators.langid``.

Plan shape: ONE map-only codegen projection — line splitting,
filtering, sentence counting, and re-joining are all row-local array
algebra (``F.filter`` / ``F.aggregate`` over the split), so the
operator adds no shuffle, no python, and survives any scale the scan
survives.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from snapflow_spark.functions.fragments import memo_fragment

__all__ = [
    "C4_DEFAULTS",
    "C4_POLICY_SUBSTRINGS",
    "c4_clean",
    "c4_pass_expr",
    "c4_signals",
]

#: Paper / reference-implementation constants, keyed like thresholds.
C4_DEFAULTS: dict[str, float] = {
    "min_words_per_line": 5,
    "min_num_sentences": 3,
}

#: Boilerplate substrings that drop a LINE (reference impl's
#: ``_POLICY_SUBSTRINGS``).
C4_POLICY_SUBSTRINGS = (
    "terms of use",
    "privacy policy",
    "cookie policy",
    "uses cookies",
    "use of cookies",
    "use cookies",
)

#: Signals c4_signals emits, in the canonical order the roster branch
#: fingerprints them (ints; fractions are derivable and not stored).
SIGNAL_COLUMNS = (
    "c4_n_lines",
    "c4_n_kept_lines",
    "c4_n_sentences",
    "c4_has_lorem_ipsum",
    "c4_has_curly",
    "c4_badword_hits",
)

# ASCII blank class shared by both engines (Java \s and RE2 \s
# disagree on \x0B; an explicit class can't drift).
_BLANK = r"[ \t\f\r]"
#: Sentence-end matcher over kept text: terminal mark, optional close
#: quote, then blank/newline/end.
_SENT_RE = '[.!?]"?([ \\t\\f\\r\\n]|$)'


def _line_kept_expr(
    x: Column,
    min_words: int,
    policy: tuple[str, ...] = C4_POLICY_SUBSTRINGS,
) -> Column:
    """Boolean: one trimmed line survives the C4 line rules.
    ``policy`` retargets the boilerplate substrings (the published
    list is English; a non-English pipeline passes its own — e.g.
    'politique de confidentialité', 'Datenschutzerklärung')."""
    lx = F.lower(x)
    policy_hit = F.lit(False)
    for sub in policy:
        policy_hit = policy_hit | lx.contains(sub.lower())
    # word count = non-blank runs (a split-based count diverges across
    # engines on trailing blanks: Java split drops trailing empties,
    # RE2/python keep them)
    return (
        x.rlike(r'[.!?"]$')
        & ~x.rlike(r"\.\.\.$")
        & (F.regexp_count(x, F.lit("[^" + _BLANK[1:-1] + "]+")) >= min_words)
        & ~lx.contains("javascript")
        & ~policy_hit
    )


def c4_signals(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    badwords: tuple[str, ...] = (),
    min_words_per_line: int | None = None,
    policy_substrings: tuple[str, ...] | None = None,
    badwords_by_lang: dict[str, tuple[str, ...]] | None = None,
    policy_by_lang: dict[str, tuple[str, ...]] | None = None,
    lang_col: str = "lang",
) -> DataFrame:
    """Append the C4 signal columns plus ``c4_text`` (the kept lines
    re-joined with ``\\n``) to ``df``. One codegen projection, no
    shuffle, no python. ``id_col`` is part of the stable operator API
    but unused: nothing leaves the row.

    Language retargeting (the published badword/boilerplate lists are
    English-shaped): ``policy_substrings`` replaces the boilerplate
    list corpus-wide; ``badwords_by_lang`` / ``policy_by_lang`` route
    PER ROW on ``lang_col`` (``core.lang_id``'s output) via one
    codegen when-chain — no join, no shuffle, no python; unrouted rows
    fall back to the corpus-wide lists. Line structure, sentence
    counting, and the lorem-ipsum/curly page rules are list-free and
    unchanged."""
    mw = int(
        C4_DEFAULTS["min_words_per_line"]
        if min_words_per_line is None
        else min_words_per_line
    )
    default_policy = (
        tuple(policy_substrings)
        if policy_substrings is not None
        else C4_POLICY_SUBSTRINGS
    )
    # Per-context memo of the two UNALIASED staging fragments (round
    # 18, functions/fragments.py — ~200 round trips per construction,
    # rebuilt identically per bench rep); aliasing stays per-use.
    stage_key = (
        "c4.stage",
        text_col,
        mw,
        repr(default_policy),
        repr(sorted((policy_by_lang or {}).items())),
        lang_col,
    )

    def _build_stage() -> dict[str, Column]:
        text = F.col(text_col)
        # the trim is wrapped in a lambda on purpose: F.trim's optional
        # second parameter makes F.transform pass (element, index),
        # which silently turns the index into the trim-character set
        lines = F.transform(F.split(text, r"\r?\n"), lambda x: F.trim(x))

        # NB: the per-list lambda must take exactly ONE parameter — a
        # bound default (lambda x, _p=pol) makes F.filter pass
        # (element, index), the list silently becoming the index column
        def _kept_for(pol: tuple[str, ...]) -> Column:
            return F.filter(lines, lambda x: _line_kept_expr(x, mw, pol))

        kept = _kept_for(default_policy)
        if policy_by_lang:
            routed = None
            for lang in sorted(policy_by_lang):
                k = _kept_for(tuple(policy_by_lang[lang]))
                cond = F.col(lang_col) == lang
                routed = (
                    F.when(cond, k) if routed is None else routed.when(cond, k)
                )
            kept = routed.otherwise(kept)
        return {"__c4_lines": lines, "__c4_kept": kept}

    sig_key = (
        "c4.signals",
        text_col,
        repr(tuple(badwords)),
        repr(sorted((badwords_by_lang or {}).items())),
        lang_col,
    )

    def _build_signals() -> dict[str, Column]:
        text = F.col(text_col)
        lower_words = F.regexp_extract_all(F.lower(text), F.lit(r"\S+"), 0)

        def _bad_hits(bws: tuple[str, ...]) -> Column:
            if not bws:
                return F.lit(0)
            bad = [b.lower() for b in bws]
            return F.size(F.filter(lower_words, lambda w: w.isin(*bad)))

        bad_hits = _bad_hits(tuple(badwords))
        if badwords_by_lang:
            routed = None
            for lang in sorted(badwords_by_lang):
                cnt = _bad_hits(tuple(badwords_by_lang[lang]))
                cond = F.col(lang_col) == lang
                routed = (
                    F.when(cond, cnt)
                    if routed is None
                    else routed.when(cond, cnt)
                )
            bad_hits = routed.otherwise(bad_hits)
        kl = F.col("__c4_kept")
        joined = F.array_join(kl, "\n")
        return {
            "c4_n_lines": F.size("__c4_lines"),
            "c4_n_kept_lines": F.size(kl),
            "c4_n_sentences": F.coalesce(
                F.regexp_count(joined, F.lit(_SENT_RE)), F.lit(0)
            ),
            "c4_has_lorem_ipsum": F.lower(text)
            .contains("lorem ipsum")
            .cast("int"),
            "c4_has_curly": text.contains("{").cast("int"),
            "c4_badword_hits": bad_hits,
            "c4_text": joined,
        }

    stage_cols = memo_fragment(stage_key, _build_stage)
    staged = df.select(
        "*", *[c.alias(name) for name, c in stage_cols.items()]
    )
    sig_cols = memo_fragment(sig_key, _build_signals)
    out = staged.select(
        "*", *[c.alias(name) for name, c in sig_cols.items()]
    )
    return out.drop("__c4_lines", "__c4_kept")


def c4_pass_expr(min_num_sentences: int | None = None) -> Column:
    """Boolean over c4_signals' columns: the page-level keep rule."""
    ms = int(
        C4_DEFAULTS["min_num_sentences"]
        if min_num_sentences is None
        else min_num_sentences
    )
    return memo_fragment(
        ("c4.pass", ms),
        lambda: (
            (F.col("c4_has_lorem_ipsum") == 0)
            & (F.col("c4_has_curly") == 0)
            & (F.col("c4_badword_hits") == 0)
            & (F.col("c4_n_sentences") >= ms)
        ),
    )


def c4_clean(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    badwords: tuple[str, ...] = (),
    min_words_per_line: int | None = None,
    min_num_sentences: int | None = None,
    keep_signals: bool = False,
    policy_substrings: tuple[str, ...] | None = None,
    badwords_by_lang: dict[str, tuple[str, ...]] | None = None,
    policy_by_lang: dict[str, tuple[str, ...]] | None = None,
    lang_col: str = "lang",
) -> DataFrame:
    """Apply the full C4 battery: drop failing lines, reject failing
    pages, and REPLACE ``text_col`` with the cleaned text. Output has
    the input's columns (plus the signal columns when
    ``keep_signals``), one row per surviving page. Language
    retargeting knobs pass through to ``c4_signals``."""
    sig = c4_signals(
        df,
        text_col=text_col,
        id_col=id_col,
        badwords=badwords,
        min_words_per_line=min_words_per_line,
        policy_substrings=policy_substrings,
        badwords_by_lang=badwords_by_lang,
        policy_by_lang=policy_by_lang,
        lang_col=lang_col,
    )
    kept = sig.where(c4_pass_expr(min_num_sentences))
    cleaned = kept.withColumn(text_col, F.col("c4_text")).drop("c4_text")
    if keep_signals:
        return cleaned
    return cleaned.select(*df.columns)
