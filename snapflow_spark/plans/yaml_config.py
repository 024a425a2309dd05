"""Declarative YAML graph config — snapflow's EP3 (`snapflow run` on a
dataspace file [P SURVEY §3.1 EP3]) on the Spark engine.

A pipeline file declares sources, nodes, their wiring and functions:

    warehouse: .scratch/demo
    sources:
      - events_src                      # fed programmatically, or:
      # - name: api_src                 # self-importing source —
      #   pager: my_mod:make_pager      # connector loop runs at the
      #   schema: "id bigint, v string" # start of every produce()
      #   max_pages: 100
    nodes:
      - name: accumulated
        function: core.accumulate
        upstream: events_src
      - name: latest_state
        function: core.dedupe_keep_latest
        upstream:
          history: {node: accumulated, mode: reference}
        params:
          keys: [user_id, event_type]
          order_by: ["ts desc", "event_id desc"]
        overwrite: true

``function`` is either a builtin (the ``core.*`` standard library,
mirroring snapflow's core module functions) or an import path
``package.module:callable`` resolving to ``fn(spark, **inputs,
**params)``. ``upstream`` accepts the same shorthand as
plans.graph.GraphBuilder: a bare source name, or a mapping of input
name -> node name | {node, mode} with mode in consumable | reference
| latest.

Run it with ``python -m snapflow_spark produce pipeline.yaml`` or
``load_graph(...)`` / ``produce_file(...)`` from python.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from snapflow_spark.functions.embed import ImportedCallable
from snapflow_spark.plans.graph import GraphBuilder, graph

_MODES = {"consumable", "reference", "latest"}


# --- builtin node function library (snapflow core-module parity) -----

def _accumulate(spark: SparkSession, input: DataFrame) -> DataFrame:  # noqa: A002
    """core.accumulate (A3): append each delta block to the history."""
    return input


def _dedupe_keep_latest(
    spark: SparkSession,
    history: DataFrame,
    keys: list[str],
    order_by: list[str],
) -> DataFrame:
    """core.dedupe_keep_latest (A4): current state from an append log.
    order_by entries are "col" or "col desc"."""
    from snapflow_spark.operators import dedupe_keep_latest

    cols = []
    for spec in order_by:
        parts = spec.split()
        c = F.col(parts[0])
        cols.append(c.desc() if len(parts) > 1 and parts[1].lower() == "desc" else c)
    return dedupe_keep_latest(history, keys=keys, order_by=cols)


def _sql(spark: SparkSession, sql: str, **inputs: DataFrame) -> DataFrame:
    """core.sql (A2): SQL text over named inputs ({name} placeholders)."""
    from snapflow_spark.operators import sql_snap

    return sql_snap(
        spark, sql, inputs=inputs, params={name: name for name in inputs}
    )


def _filter(spark: SparkSession, input: DataFrame, predicate: str) -> DataFrame:  # noqa: A002
    """core.filter: keep rows matching a SQL boolean expression."""
    return input.where(F.expr(predicate))


def _select(spark: SparkSession, input: DataFrame, columns: list[str]) -> DataFrame:  # noqa: A002
    """core.select: project SQL expressions (supports `expr AS name`)."""
    return input.selectExpr(*columns)


def _split(
    spark: SparkSession,
    input: DataFrame,  # noqa: A002
    id_col: str = "doc_id",
    test_frac: float = 0.1,
    salt: str = "split-v1",
) -> DataFrame:
    """core.split: deterministic sha256 train/test assignment
    (operators.curation.split_by_hash)."""
    from snapflow_spark.operators import split_by_hash

    return split_by_hash(input, id_col=id_col, test_frac=test_frac, salt=salt)


def _sample(
    spark: SparkSession,
    input: DataFrame,  # noqa: A002
    fractions: dict[str, float],
    strata_col: str = "lang",
    id_col: str = "doc_id",
    salt: str = "sample-v1",
) -> DataFrame:
    """core.sample: deterministic stratified sampling
    (operators.curation.stratified_sample_by_hash)."""
    from snapflow_spark.operators import stratified_sample_by_hash

    return stratified_sample_by_hash(
        input, fractions, strata_col=strata_col, id_col=id_col, salt=salt
    )


def _pack(
    spark: SparkSession,
    input: DataFrame,  # noqa: A002
    budget: int,
    token_col: str = "n_tokens",
    id_col: str = "doc_id",
    partition_col: str | None = None,
    mode: str = "chunk",
) -> DataFrame:
    """core.pack: sequence packing. ``mode: chunk`` (default —
    concat-and-chunk, operators.curation.pack_sequences) or
    ``mode: bins`` (whole-doc first-fit-decreasing bin packing,
    pack_sequences_bfd, round 8)."""
    from snapflow_spark.operators import pack_sequences, pack_sequences_bfd

    if mode not in ("chunk", "bins"):
        raise ValueError(f"core.pack mode must be chunk|bins, got {mode!r}")
    fn = pack_sequences if mode == "chunk" else pack_sequences_bfd
    return fn(
        input,
        budget=budget,
        token_col=token_col,
        id_col=id_col,
        partition_col=partition_col,
    )


def _cap(
    spark: SparkSession,
    input: DataFrame,  # noqa: A002
    cap: int,
    domain_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "cap-v1",
) -> DataFrame:
    """core.cap: per-domain anti-domination cap
    (operators.curation.cap_per_domain)."""
    from snapflow_spark.operators import cap_per_domain

    return cap_per_domain(
        input, cap=cap, domain_col=domain_col, id_col=id_col, salt=salt
    )


def _dedup_lines(
    spark: SparkSession,
    input: DataFrame,  # noqa: A002
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """core.dedup_lines: cross-document line dedup
    (operators.dedup_text.dedup_lines_global)."""
    from snapflow_spark.operators import dedup_lines_global

    return dedup_lines_global(input, text_col=text_col, id_col=id_col)


def _excise_spans(
    spark: SparkSession,
    input: DataFrame,  # noqa: A002
    n: int = 8,
    min_span_tokens: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    priority_col: str | None = None,
    max_df: int | None = None,
) -> DataFrame:
    """core.excise_spans: span-level removal of cross-document
    verbatim duplication — cut the copied token span, keep the rest
    (operators.dedup_text.excise_shared_spans, ExactSubstr shape).
    ``max_df`` ignores boilerplate grams held by more documents."""
    from snapflow_spark.operators.dedup_text import excise_shared_spans

    return excise_shared_spans(
        input,
        text_col=text_col,
        id_col=id_col,
        n=int(n),
        min_span_tokens=None if min_span_tokens is None else int(min_span_tokens),
        priority_col=priority_col,
        max_df=None if max_df is None else int(max_df),
    )


def _bm25(
    spark: SparkSession,
    input: DataFrame,  # noqa: A002
    queries: list,
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """core.bm25: lexical top-k retrieval over the input corpus for a
    literal [[id, text], ...] query list
    (operators.retrieval.bm25_topk)."""
    from snapflow_spark.operators import bm25_topk

    qdf = spark.createDataFrame(
        [(int(i), str(t)) for i, t in queries],
        "query_id bigint, query_text string",
    )
    return bm25_topk(input, qdf, k=k, text_col=text_col, id_col=id_col)


def _expect(
    spark: SparkSession,
    input: DataFrame,  # noqa: A002
    expectations: list,
    on_fail: str = "quarantine",
) -> DataFrame:
    """core.expect: data-quality gate (operators.quality — snapflow's
    commonmodel field validators as a declared pipeline node). Each
    list entry is one of::

        - {not_null: col}
        - {in_range: {col: c, lo: 0, hi: 100}}     # bounds optional
        - {matches: {col: c, pattern: "^[a-z]+$"}}
        - {one_of: {col: c, allowed: [a, b]}}
        - {predicate: "c >= 0 AND d IS NOT NULL", name: my_rule}

    ``on_fail``: ``quarantine`` (default — pass only conforming rows
    downstream; NULL predicate = fail, quality.py contract),
    ``flag`` (keep every row, add a ``failed_checks`` array naming
    what broke — empty for clean rows), or ``fail`` (ONE aggregate
    pass counts failures and raises naming each failing rule — the
    hard gate)."""
    from snapflow_spark.operators.quality import (
        Expectation,
        check_expectations,
        in_range,
        matches,
        not_null,
        one_of,
        quarantine,
    )

    exps: list[Expectation] = []
    for spec in expectations:
        if not isinstance(spec, dict) or len(spec) > 2:
            raise ValueError(f"core.expect: bad expectation spec {spec!r}")
        if "not_null" in spec:
            exps.append(not_null(str(spec["not_null"])))
        elif "in_range" in spec:
            d = spec["in_range"]
            exps.append(in_range(str(d["col"]), d.get("lo"), d.get("hi")))
        elif "matches" in spec:
            d = spec["matches"]
            exps.append(matches(str(d["col"]), str(d["pattern"])))
        elif "one_of" in spec:
            d = spec["one_of"]
            exps.append(one_of(str(d["col"]), list(d["allowed"])))
        elif "predicate" in spec:
            exps.append(
                Expectation(
                    str(spec.get("name", f"rule_{len(exps)}")),
                    F.expr(str(spec["predicate"])),
                )
            )
        else:
            raise ValueError(f"core.expect: unknown expectation {spec!r}")
    if on_fail == "fail":
        counts = check_expectations(input, exps)
        bad = {
            k: v for k, v in counts.items() if k != "rows" and v > 0
        }
        if bad:
            raise ValueError(f"core.expect gate failed: {bad}")
        return input
    passed, failed = quarantine(input, exps)
    if on_fail == "quarantine":
        return passed
    if on_fail == "flag":
        import pyspark.sql.functions as _F

        return passed.withColumn(
            "failed_checks", _F.array().cast("array<string>")
        ).unionByName(failed)
    raise ValueError(
        f"core.expect on_fail must be quarantine|flag|fail, got {on_fail!r}"
    )


def _tokenize(
    spark: SparkSession,
    input: DataFrame,  # noqa: A002
    artifact: str,
    text_col: str = "text",
    out_col: str = "tokens",
    counts_only: bool = False,
    sample_alpha: float | None = None,
    sample_salt: str = "",
) -> DataFrame:
    """core.tokenize: encode a text column with a TRAINED tokenizer
    artifact (functions.bpe / functions.unigram / functions.wordpiece
    JSON, as written by the `train-bpe` / `train-unigram` /
    `train-wordpiece` CLIs) — the pipeline hand-off that turns
    curation output into model-ready tokens. ``kn_lm.load_tokenizer``
    tells the artifact kinds apart, so one builtin serves all four
    trainers. ``counts_only``
    emits an int token count instead of the array (the packing
    budget column); ``sample_alpha`` switches a unigram artifact to
    the subword-regularization sampler at that temperature
    (deterministic via sha256(sample_salt, word) — vary the salt per
    epoch). The artifact loads DRIVER-side; only the broadcast piece
    table ships to executors."""
    from snapflow_spark.functions.kn_lm import load_tokenizer
    from snapflow_spark.functions.unigram import UnigramTokenizer

    tok = load_tokenizer(artifact)
    if sample_alpha is None:
        col = tok.encode_col(spark, text_col)
    elif isinstance(tok, UnigramTokenizer):
        col = tok.sample_udf(
            spark, alpha=float(sample_alpha), salt=str(sample_salt)
        )(F.col(text_col))
    else:
        raise ValueError(
            "sample_alpha is a unigram-artifact feature (BPE/WordPiece "
            "encoding is deterministic, nothing to sample)"
        )
    if counts_only:
        col = F.size(col)
    return input.withColumn(out_col, col)


def _dsir(
    spark: SparkSession,
    input: DataFrame,  # noqa: A002
    n_keep: int,
    target_where: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    gumbel: bool = True,
) -> DataFrame:
    """core.dsir: importance-resampling data selection against the
    target slice ``target_where`` (a SQL boolean over the input's
    columns) — operators.selection.dsir_select's single-scan form."""
    from pyspark.sql import functions as F

    from snapflow_spark.operators.selection import dsir_select

    return dsir_select(
        input,
        None,
        int(n_keep),
        text_col=text_col,
        id_col=id_col,
        gumbel=gumbel,
        target_pred=F.expr(target_where),
    )


def _ppl_buckets(
    spark: SparkSession,
    input: DataFrame,  # noqa: A002
    ref_where: str | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    by: str | None = None,
    fractions: list[float] | None = None,
    keep: str | None = None,
    exact: bool = False,
    lm: str | None = None,
) -> DataFrame:
    """core.ppl_buckets: CCNet's head/middle/tail perplexity split
    (operators.selection.perplexity_buckets) — LM fit on the
    ``ref_where`` slice, thresholds per ``by`` group (CCNet: lang) or
    global, ``keep`` optionally filters to e.g. 'head' or
    'head,middle' and joins the bucket back onto the input rows.

    ``lm:`` (round 11) — path to a TRAINED Kneser-Ney artifact
    (``train-kn-lm`` CLI / functions.kn_lm), the core.tokenize
    trained-artifact pattern: scoring then uses the published
    conditional model instead of the hashed-gram bag, and
    ``ref_where`` must be omitted (the reference corpus was consumed
    at training time)."""
    from pyspark.sql import functions as F

    from snapflow_spark.operators.selection import perplexity_buckets

    fr = tuple(fractions) if fractions else (1 / 3, 2 / 3)
    if lm is not None:
        from snapflow_spark.functions.kn_lm import load_lm

        if ref_where:
            raise ValueError(
                "core.ppl_buckets: pass either lm (trained artifact) "
                "or ref_where (fit-at-runtime), not both"
            )
        out = perplexity_buckets(
            input,
            None,
            text_col=text_col,
            id_col=id_col,
            by=by,
            fractions=fr,  # type: ignore[arg-type]
            exact=exact,
            lm=load_lm(str(lm)),
        )
    else:
        if not ref_where:
            raise ValueError(
                "core.ppl_buckets needs ref_where (fit-at-runtime) "
                "or lm (trained Kneser-Ney artifact path)"
            )
        out = perplexity_buckets(
            input,
            None,
            text_col=text_col,
            id_col=id_col,
            by=by,
            fractions=fr,  # type: ignore[arg-type]
            exact=exact,
            ref_pred=F.expr(ref_where),
        )
    if keep is None:
        return out
    wanted = [k.strip() for k in keep.split(",") if k.strip()]
    kept = out.where(F.col("ppl_bucket").isin(wanted)).select(
        id_col, "ppl", "ppl_bucket"
    )
    return input.join(kept, id_col)


def _quality_filter(
    spark: SparkSession,
    input: DataFrame,  # noqa: A002
    positive_where: str,
    threshold: float | None = None,
    pareto_alpha: float | None = None,
    num_buckets: int = 4096,
    iters: int = 30,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """core.quality_filter: the GPT-3-style TRAINED quality filter
    (operators.classifier) — logistic regression over hashed-gram
    frequencies with positives defined by ``positive_where`` (a SQL
    boolean over the input's columns, the core.dsir convention) and
    the rest of the input as the reject class. Every row comes back
    with a ``quality_prob`` column; a ``threshold`` turns the node
    into the filter itself (WHERE quality_prob >= threshold), while
    ``pareto_alpha`` instead applies the paper's OWN keep rule —
    score > 1 - Pareto(alpha) noise, deterministic from sha256(id)
    (classifier.pareto_noise_keep) — which admits boundary docs at a
    smoothly-decaying rate instead of a cliff. Mutually exclusive."""
    from pyspark.sql import functions as F

    from snapflow_spark.operators.classifier import (
        pareto_noise_keep,
        score_quality,
        train_from_predicate,
    )

    if threshold is not None and pareto_alpha is not None:
        raise ValueError(
            "quality_filter: threshold and pareto_alpha are mutually "
            "exclusive keep rules"
        )

    clf = train_from_predicate(
        input,
        positive_where,
        text_col=text_col,
        id_col=id_col,
        num_buckets=int(num_buckets),
        iters=int(iters),
    )
    scored = score_quality(input, clf, text_col=text_col, id_col=id_col)
    if threshold is not None:
        scored = scored.where(F.col("quality_prob") >= float(threshold))
    elif pareto_alpha is not None:
        scored = scored.where(
            pareto_noise_keep(id_col=id_col, alpha=float(pareto_alpha))
        )
    return scored


def _shuffle(
    spark: SparkSession,
    input: DataFrame,  # noqa: A002
    salt: str = "shuffle-v1",
    id_col: str = "doc_id",
    num_partitions: int | None = None,
) -> DataFrame:
    """core.shuffle: deterministic global pseudo-random training
    order (operators.curation.deterministic_shuffle — sha256(salt ||
    id) range sort; one shuffle, bit-stable across reruns; a per-epoch
    salt yields independent orders)."""
    from snapflow_spark.operators.curation import deterministic_shuffle

    return deterministic_shuffle(
        input, salt=salt, id_col=id_col,
        num_partitions=int(num_partitions) if num_partitions else None,
    )


def _dedup_incremental(
    spark: SparkSession,
    input: DataFrame,  # noqa: A002
    artifacts: str,
    mode: str = "exact",
    text_col: str = "text",
    id_col: str = "doc_id",
    jaccard_threshold: float = 0.8,
    num_hash_tables: int = 8,
    rows_per_band: int = 2,
    shingle_n: int = 3,
) -> DataFrame:
    """core.dedup_incremental: dedup the INPUT BATCH against corpus
    history (operators.dedup_incremental) — history lives in standing
    artifact stores under ``artifacts`` (fingerprints for
    ``mode: exact``; MinHash sigs + band keys for ``mode: minhash``),
    never as text. Pair with a delta-consuming upstream so each
    produce() gates only the newly arrived documents."""
    from snapflow_spark.incremental import SnapshotStore
    from snapflow_spark.operators.dedup_incremental import (
        incremental_exact_dedup,
        incremental_minhash_dedup,
    )

    root = Path(artifacts)
    if mode == "exact":
        return incremental_exact_dedup(
            spark, input, SnapshotStore(root / "fingerprints"),
            text_col=text_col, id_col=id_col,
        )
    if mode == "minhash":
        return incremental_minhash_dedup(
            spark, input,
            SnapshotStore(root / "sigs"), SnapshotStore(root / "bands"),
            text_col=text_col, id_col=id_col,
            jaccard_threshold=float(jaccard_threshold),
            num_hash_tables=int(num_hash_tables),
            rows_per_band=int(rows_per_band),
            shingle_n=int(shingle_n),
        )
    raise ValueError(
        f"core.dedup_incremental mode must be exact|minhash, got {mode!r}"
    )


def _profile(
    spark: SparkSession,
    input: DataFrame,  # noqa: A002
    text_col: str = "text",
    by: str = "",
    mode: str = "report",
) -> DataFrame:
    """core.profile: the corpus data card (operators.profile).
    ``mode: report`` (default) emits the card (counts, token/char
    quantiles, dup_rate, mean quality) in one plan; ``mode: partials``
    emits the MERGEABLE per-group sketch rows instead — the form to
    accumulate per ingest batch so the dashboard never rescans text;
    ``mode: rollup`` consumes ACCUMULATED partial rows (counters add,
    sketches merge) and emits the card without touching text — pair a
    delta-consuming partials node with a reference-consuming rollup
    node for the incremental data card. ``by`` is a comma-separated
    grouping column list (e.g. ``lang``)."""
    from snapflow_spark.operators.profile import (
        corpus_profile,
        profile_partials,
        profile_report,
    )

    group = [c.strip() for c in by.split(",") if c.strip()]
    if mode == "report":
        return corpus_profile(input, text_col=text_col, by=group or None)
    if mode == "partials":
        return profile_partials(input, text_col=text_col, by=group or None)
    if mode == "rollup":
        return profile_report(input, by=group or None)
    raise ValueError(
        f"core.profile mode must be report|partials|rollup, got {mode!r}"
    )


def _sitemap_urls(
    spark: SparkSession,
    input: DataFrame,  # noqa: A002
    url_col: str = "url",
    body_col: str = "body",
    kinds: str = "urlset,text",
) -> DataFrame:
    """core.sitemap_urls: explode fetched sitemap bodies
    (functions.sitemaps — XML urlset/sitemapindex, plain-text, gzip,
    malformed salvage) into entry rows. ``kinds`` filters the output
    ('sitemapindex' rows are the next fetch frontier; the default
    keeps page URLs)."""
    from pyspark.sql import functions as F

    from snapflow_spark.functions.sitemaps import parse_sitemaps

    out = parse_sitemaps(input, url_col=url_col, body_col=body_col)
    keep = [k.strip() for k in kinds.split(",") if k.strip()]
    return out.where(F.col("kind").isin(keep)) if keep else out


def _robots_filter(
    spark: SparkSession,
    input: DataFrame,  # noqa: A002
    robots: DataFrame,
    url_col: str = "url",
    host_col: str = "host",
    body_col: str = "robots_txt",
    user_agent: str = "*",
    keep_flag: str | None = None,
) -> DataFrame:
    """core.robots_filter: RFC 9309 crawl-permission filtering
    (functions.robots) — a TWO-input node: ``input`` carries the URL
    rows, ``robots`` the per-host robots bodies (``host_col`` +
    ``body_col``, exactly what scan_warc of a robots capture +
    html-free decode yields). Rules are parsed once per produce
    (Arrow pass), matching is join+LIKE+longest-match codegen; hosts
    without robots pass. ``keep_flag`` returns all rows with a
    boolean audit column instead of filtering."""
    from snapflow_spark.functions.robots import (
        filter_robots_disallowed,
        parse_robots_rules,
    )

    rules = parse_robots_rules(
        robots, host_col=host_col, body_col=body_col, user_agent=user_agent
    )
    return filter_robots_disallowed(
        input, rules, url_col=url_col, keep_flag=keep_flag
    )


def _gopher_filter(
    spark: SparkSession,
    input: DataFrame,  # noqa: A002
    text_col: str = "text",
    id_col: str = "doc_id",
    thresholds: dict | None = None,
    keep_signals: bool = False,
    stopwords: list[str] | None = None,
    stopwords_by_lang: dict | None = None,
    lang_col: str = "lang",
) -> DataFrame:
    """core.gopher_filter: the Gopher rule battery (operators.gopher,
    Rae et al. 2021 Appendix A) — word/line shape rules + repetition
    rules, paper thresholds by default, per-key overrides via
    ``thresholds:`` (e.g. ``{min_words: 30}``). ``keep_signals: true``
    leaves every signal column on the output for auditing.
    Non-English corpora: ``stopwords:`` replaces the paper's English
    required-stopword list; ``stopwords_by_lang:`` (a YAML map of
    lang value -> word list) routes per row on ``lang_col`` — compose
    after a ``core.lang_id`` node."""
    from snapflow_spark.operators.gopher import gopher_quality_filter

    return gopher_quality_filter(
        input,
        text_col=text_col,
        id_col=id_col,
        thresholds=thresholds,
        keep_signals=bool(keep_signals),
        stopwords=tuple(stopwords) if stopwords else None,
        stopwords_by_lang=(
            {k: tuple(v) for k, v in stopwords_by_lang.items()}
            if stopwords_by_lang
            else None
        ),
        lang_col=lang_col,
    )


def _c4_clean(
    spark: SparkSession,
    input: DataFrame,  # noqa: A002
    text_col: str = "text",
    id_col: str = "doc_id",
    badwords: list[str] | None = None,
    min_words_per_line: int | None = None,
    min_num_sentences: int | None = None,
    keep_signals: bool = False,
    policy_substrings: list[str] | None = None,
    badwords_by_lang: dict | None = None,
    policy_by_lang: dict | None = None,
    lang_col: str = "lang",
) -> DataFrame:
    """core.c4_clean: the C4 line/page cleaning battery (operators.c4,
    Raffel et al. 2020 §2.2) — boilerplate lines drop individually,
    pages that stop reading like prose drop whole, and ``text_col`` is
    REPLACED with the kept lines. ``badwords:`` is the caller's list
    (empty by default — nothing silently censored). Non-English
    corpora: ``policy_substrings:`` replaces the English boilerplate
    list; ``badwords_by_lang:`` / ``policy_by_lang:`` (YAML maps of
    lang value -> list) route per row on ``lang_col`` — compose after
    a ``core.lang_id`` node."""
    from snapflow_spark.operators.c4 import c4_clean

    return c4_clean(
        input,
        text_col=text_col,
        id_col=id_col,
        badwords=tuple(badwords or ()),
        min_words_per_line=min_words_per_line,
        min_num_sentences=min_num_sentences,
        keep_signals=bool(keep_signals),
        policy_substrings=(
            tuple(policy_substrings) if policy_substrings is not None else None
        ),
        badwords_by_lang=(
            {k: tuple(v) for k, v in badwords_by_lang.items()}
            if badwords_by_lang
            else None
        ),
        policy_by_lang=(
            {k: tuple(v) for k, v in policy_by_lang.items()}
            if policy_by_lang
            else None
        ),
        lang_col=lang_col,
    )


def _lang_id(
    spark: SparkSession,
    input: DataFrame,  # noqa: A002
    model: str,
    threshold: float | None = None,
    fallback: str = "und",
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "lang_pred",
    prob_col: str = "lang_prob",
    drop_undetermined: bool = False,
) -> DataFrame:
    """core.lang_id: TRAINED language identification (operators.
    langid — multinomial LR over hashed char n-grams, the CCNet/C4
    pipeline's first text gate). ``model`` is a train_lang_id JSON
    artifact (``train-langid`` CLI); every row comes back with
    (``lang_pred``, ``lang_prob``). A ``threshold`` routes
    low-confidence rows to ``fallback`` ('und'), making quarantine a
    plain WHERE; ``drop_undetermined: true`` applies that filter in
    the node itself (requires a threshold — otherwise nothing is ever
    'und' and the flag would silently do nothing)."""
    from snapflow_spark.operators.langid import LangIdModel, predict_lang

    if drop_undetermined and threshold is None:
        raise ValueError(
            "lang_id: drop_undetermined requires a threshold (without "
            "one no row is ever routed to the fallback class)"
        )
    m = LangIdModel.load(model)
    out = predict_lang(
        input,
        m,
        text_col=text_col,
        id_col=id_col,
        out_col=out_col,
        prob_col=prob_col,
        threshold=float(threshold) if threshold is not None else None,
        fallback=fallback,
    )
    if drop_undetermined:
        out = out.where(F.col(out_col) != fallback)
    return out


def _frequent_items(
    spark: SparkSession,
    input: DataFrame,  # noqa: A002
    column: str,
    k: int = 64,
) -> DataFrame:
    """core.frequent_items: Misra-Gries heavy hitters over a column
    (functions.heavyhitters.frequent_items) — emitted as rows
    (item, est_lo, est_hi) sorted by estimate desc."""
    from snapflow_spark.functions.heavyhitters import frequent_items

    s = frequent_items(input, column, k=int(k))
    return spark.createDataFrame(
        s.intervals(), f"{column} string, est_lo long, est_hi long"
    )


def _attach_model_embedding(
    input: DataFrame,  # noqa: A002
    model: str,
    text_col: str,
    vec_col: str,
    dim: int | None,
    batch_size: int,
) -> DataFrame:
    """Shared ``model:`` convenience for the embedding-family
    builtins: attach ``vec_col`` from a user batch-embedding import
    path (functions.embed.embed_with_model) so a TEXT corpus flows
    straight into semantic_dedup / d4 without a separate
    core.text_embed node."""
    from snapflow_spark.functions.embed import embed_with_model

    return embed_with_model(
        input,
        str(model),
        text_col=text_col,
        out_col=vec_col,
        dim=dim,
        batch_size=int(batch_size),
    )


def _semantic_dedup(
    spark: SparkSession,
    input: DataFrame,  # noqa: A002
    cos_threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    blocking: str = "lsh",
    k_cells: int = 16,
    cell_max_bucket: int = 512,
    model: str | None = None,
    text_col: str = "text",
    dim: int | None = None,
    batch_size: int = 1024,
) -> DataFrame:
    """core.semantic_dedup: SemDeDup-shaped embedding dedup decision
    frame (operators.similarity.semantic_dedup) — semi-join is_rep
    downstream to keep one doc per semantic cluster.
    ``blocking: cells`` (round 6) builds an IVF quantizer over the
    input and blocks candidates by k-means cell — the paper's own
    cluster structure (size ``k_cells`` so cells stay under
    ``cell_max_bucket``); default ``lsh`` keeps the band blocking
    that also catches cell-straddling pairs.  ``model:`` (round 11)
    embeds ``text_col`` first via the import-path hook — the full
    real-model SemDeDup in ONE node."""
    from snapflow_spark.operators import semantic_dedup

    if model is not None:
        input = _attach_model_embedding(  # noqa: A001
            input, model, text_col, vec_col, dim, batch_size
        )
    if blocking == "cells":
        from snapflow_spark.operators.similarity import IVFIndex

        idx = IVFIndex.build(
            input, k_cells=int(k_cells), vec_col=vec_col, id_col=id_col
        )
        return semantic_dedup(
            input, cos_threshold=cos_threshold, index=idx,
            cell_max_bucket=int(cell_max_bucket),
        )
    if blocking != "lsh":
        raise ValueError(f"semantic_dedup blocking must be lsh|cells: {blocking!r}")
    return semantic_dedup(
        input, cos_threshold=cos_threshold, vec_col=vec_col, id_col=id_col
    )


def _http_parts(
    spark: SparkSession,
    input: DataFrame,  # noqa: A002
    payload_col: str = "payload",
) -> DataFrame:
    """core.http_parts: split raw WARC response payloads into
    ``http_status``/``http_content_type``/``http_body`` ONCE
    (sources.warc.http_response_parts), so a router pipeline can
    sniff + branch on the body without each branch re-splitting —
    core.html_text/core.pdf_text then consume ``http_body`` directly
    (from_http_payload stays false)."""
    from snapflow_spark.sources.warc import http_response_parts

    return http_response_parts(input, payload_col=payload_col)


def _sniff_format(
    spark: SparkSession,
    input: DataFrame,  # noqa: A002
    payload_col: str = "payload",
    out_col: str = "format",
    sniff_bytes: int = 256,
) -> DataFrame:
    """core.sniff_format: magic-byte format label for a binary payload
    column (functions.sniff) — route rows by BYTES, not by the lying
    Content-Type header; filter per label downstream (html →
    core.html_text, pdf → core.pdf_text, media → probes)."""
    from snapflow_spark.functions.sniff import sniff_format_expr

    return input.withColumn(
        out_col, sniff_format_expr(payload_col, sniff_bytes=int(sniff_bytes))
    )


def _text_embed(
    spark: SparkSession,
    input: DataFrame,  # noqa: A002
    text_col: str = "text",
    out_col: str = "embedding",
    dim: int | None = None,
    salt: str = "embed-v1",
    model: str | None = None,
    batch_size: int = 1024,
) -> DataFrame:
    """core.text_embed: attaches `out_col` array<float> so a
    text-only corpus can flow into core.d4 / core.semantic_dedup /
    the ANN family.  Two producers:

    - default (no ``model:``): the model-free hashed char-n-gram
      LEXICAL embedding (functions.text.hashed_embedding_udf);
    - ``model: mymod:embed_batch``: a user batch-embedding function
      declared as an import path, resolved lazily per worker and
      Arrow-batched via a scalar pandas UDF so ONLY the text column
      crosses the python boundary (functions.embed.embed_with_model) — the
      real-model path for semantic vectors.  ``dim`` defaults to the
      model's own width there (validated only when declared — same
      contract as core.semantic_dedup/core.d4's model path) and to 64
      on the hashed producer; ``batch_size`` matches the model's
      optimal batch."""
    if model is not None:
        from snapflow_spark.functions.embed import embed_with_model

        return embed_with_model(
            input,
            str(model),
            text_col=text_col,
            out_col=out_col,
            dim=None if dim is None else int(dim),
            batch_size=int(batch_size),
        )
    from snapflow_spark.functions.text import hashed_embedding_udf

    return input.withColumn(
        out_col,
        hashed_embedding_udf(
            text_col, dim=64 if dim is None else int(dim), salt=salt
        ),
    )


def _d4(
    spark: SparkSession,
    input: DataFrame,  # noqa: A002
    cos_threshold: float = 0.95,
    drop_frac: float = 0.2,
    k_cells: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cell_max_bucket: int = 512,
    model: str | None = None,
    text_col: str = "text",
    dim: int | None = None,
    batch_size: int = 1024,
) -> DataFrame:
    """core.d4: the D4 curation recipe (operators.similarity.
    d4_select — SemDeDup then per-cell prototype diversification over
    ONE shared k-means assignment). Emits the decision frame
    (id, component, is_rep, proto, is_kept) — semi-join ``is_kept``
    downstream to keep the deduped, diversified subset.
    ``model:`` (round 11) embeds ``text_col`` first via the
    import-path hook — the full real-model D4 recipe in ONE node."""
    from snapflow_spark.operators import d4_select

    if model is not None:
        input = _attach_model_embedding(  # noqa: A001
            input, model, text_col, vec_col, dim, batch_size
        )

    return d4_select(
        input,
        cos_threshold=float(cos_threshold),
        drop_frac=float(drop_frac),
        k_cells=int(k_cells),
        vec_col=vec_col,
        id_col=id_col,
        cell_max_bucket=int(cell_max_bucket),
    )


class _ImportedDecoder(ImportedCallable):
    """A YAML-declared decoder as a lazily-resolved import path —
    the executor-shipping contract lives in
    functions.embed.ImportedCallable (pickles the path only, resolves
    at first call inside the worker; config-declared decoders need
    the module importable on executors via ``--py-files`` /
    ``sc.addPyFile``)."""

    def __init__(self, path: str) -> None:
        super().__init__(path, what="decoder")


def _resolve_decoders(spec: dict | None) -> dict | None:
    """``decoders: {mp3: mymod:decode_mp3}`` -> the ``external=``
    dict the multimodal fused stages take (keys: audio =
    sniff_audio_format names; video = probe fourcc then container)."""
    if not spec:
        return None
    return {str(fmt): _ImportedDecoder(str(path)) for fmt, path in spec.items()}


def _audio_dedup(
    spark: SparkSession,
    input: DataFrame,  # noqa: A002
    max_hamming: int = 10,
    blob_col: str = "blob",
    id_col: str = "doc_id",
    decoders: dict | None = None,
) -> DataFrame:
    """core.audio_dedup: perceptual near-duplicate audio pairs
    (multimodal.fingerprints.audio_near_dup_pairs). ``decoders``
    routes compressed formats (mp3/aac/ogg) through user decode
    functions declared as import paths — see _ImportedDecoder."""
    from snapflow_spark.multimodal import audio_near_dup_pairs

    return audio_near_dup_pairs(
        input,
        max_hamming=int(max_hamming),
        blob_col=blob_col,
        id_col=id_col,
        external=_resolve_decoders(decoders),
    )


def _video_dedup(
    spark: SparkSession,
    input: DataFrame,  # noqa: A002
    max_hamming: int = 8,
    blob_col: str = "blob",
    id_col: str = "doc_id",
    decoders: dict | None = None,
) -> DataFrame:
    """core.video_dedup: perceptual near-duplicate video pairs
    (multimodal.fingerprints.video_near_dup_pairs); ``decoders`` keys
    are probe keys, most specific first (track fourcc like avc1, then
    container like mp4/webm)."""
    from snapflow_spark.multimodal import video_near_dup_pairs

    return video_near_dup_pairs(
        input,
        max_hamming=int(max_hamming),
        blob_col=blob_col,
        id_col=id_col,
        external=_resolve_decoders(decoders),
    )


def _image_dedup(
    spark: SparkSession,
    input: DataFrame,  # noqa: A002
    max_hamming: int = 6,
    blob_col: str = "blob",
    id_col: str = "doc_id",
) -> DataFrame:
    """core.image_dedup: perceptual near-duplicate image pairs
    (multimodal.phash.image_near_dup_pairs) over a binary blob
    column."""
    from snapflow_spark.multimodal import image_near_dup_pairs

    return image_near_dup_pairs(
        input, max_hamming=max_hamming, blob_col=blob_col, id_col=id_col
    )


def _html_text(
    spark: SparkSession,
    input: DataFrame,  # noqa: A002
    from_http_payload: bool = False,
    body_col: str = "http_body",
    content_type_col: str | None = "http_content_type",
    base_url_col: str | None = "target_uri",
    main_text: bool = False,
    min_block_chars: int = 60,
    max_link_density: float = 0.30,
) -> DataFrame:
    """core.html_text: HTML binary -> title/text/links columns
    (functions.html.html_extract — the WET-production step).
    ``from_http_payload: true`` first splits raw WARC response
    payloads (``body_col`` then names the RAW payload column fed to
    sources.warc.http_response_parts; extraction reads the split-out
    ``http_body``/``http_content_type``), so ``core.scan_warc``
    (types: response) pipes straight in. ``main_text: true``
    additionally adds a boilerplate-stripped ``main_text`` column
    (functions.html.extract_main_text — block density + chrome-phrase
    rules, knobs ``min_block_chars``/``max_link_density``)."""
    from snapflow_spark.functions.html import html_extract

    df = input
    if from_http_payload:
        from snapflow_spark.sources.warc import http_response_parts

        df = http_response_parts(df, payload_col=body_col)
        body_col = "http_body"
        content_type_col = "http_content_type"
    out = html_extract(
        df,
        body_col=body_col,
        content_type_col=content_type_col,
        base_url_col=base_url_col,
    )
    if main_text:
        from snapflow_spark.functions.html import main_text_from_bytes

        out = main_text_from_bytes(
            out,
            body_col=body_col,
            content_type_col=content_type_col,
            min_block_chars=min_block_chars,
            max_link_density=max_link_density,
        )
    return out


def _pdf_text(
    spark: SparkSession,
    input: DataFrame,  # noqa: A002
    from_http_payload: bool = False,
    body_col: str = "http_body",
) -> DataFrame:
    """core.pdf_text: PDF binary -> title/text/n_pages columns
    (multimodal.pdf.pdf_extract — the application/pdf twin of
    core.html_text, same output column names so a content-type-routed
    pipeline unions the two). ``from_http_payload: true`` first splits
    raw WARC response payloads like core.html_text does."""
    from snapflow_spark.multimodal.pdf import pdf_extract

    df = input
    if from_http_payload:
        from snapflow_spark.sources.warc import http_response_parts

        df = http_response_parts(df, payload_col=body_col)
        body_col = "http_body"
    return pdf_extract(df, body_col=body_col)


def _normalize_text(
    spark: SparkSession,
    input: DataFrame,  # noqa: A002
    text_col: str = "text",
    form: str = "NFKC",
    fix_encoding: bool | str = True,
    clean: bool = True,
) -> DataFrame:
    """core.normalize_text: codegen hygiene (controls/zero-width/space
    zoo) + mojibake repair + a unicode normalization form over a text
    column (functions.normalize.normalize_text_column) — the cleanup
    pass between extraction and every op keyed on text bytes. With
    ``form: ''`` and ``fix_encoding: false`` the node stays entirely
    JVM-side. ``fix_encoding: segments`` opts into the ftfy-style
    span-by-span repair for mixed-encoding documents."""
    from snapflow_spark.functions.normalize import normalize_text_column

    return normalize_text_column(
        input,
        text_col=text_col,
        form=form,
        fix_encoding=fix_encoding,
        clean=clean,
    )


def _mix(
    spark: SparkSession,
    weights: dict[str, float],
    token_budget: int,
    token_col: str = "n_tokens",
    id_col: str = "doc_id",
    salt: str = "mix-v1",
    max_epochs: int = 20,
    **inputs: DataFrame,
) -> DataFrame:
    """core.mix: weighted token-budget dataset mixing over MULTIPLE
    named upstream corpora (operators.mixing.mix_corpora — the
    Pile/Dolma recipe step). The upstream mapping's input names are
    the source names the weights refer to."""
    from snapflow_spark.operators.mixing import mix_corpora

    return mix_corpora(
        inputs,
        {k: float(v) for k, v in weights.items()},
        token_budget=int(token_budget),
        token_col=token_col,
        id_col=id_col,
        salt=salt,
        max_epochs=int(max_epochs),
    )


def _chunk_text(
    spark: SparkSession,
    input: DataFrame,  # noqa: A002
    max_tokens: int = 512,
    overlap: int = 0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """core.chunk_text: split documents into overlapping fixed-size
    token windows (operators.curation.chunk_text) — the long-document
    splitter feeding context-bounded consumers; one output row per
    window with chunk_idx/chunk_start/chunk_text/chunk_n_tokens."""
    from snapflow_spark.operators.curation import chunk_text

    return chunk_text(
        input,
        max_tokens=int(max_tokens),
        overlap=int(overlap),
        text_col=text_col,
        id_col=id_col,
    )


def _lang_balance(
    spark: SparkSession,
    input: DataFrame,  # noqa: A002
    token_budget: int,
    alpha: float = 0.3,
    lang_col: str = "lang",
    token_col: str = "n_tokens",
    id_col: str = "doc_id",
    salt: str = "langmix-v1",
    max_epochs: int = 20,
) -> DataFrame:
    """core.lang_balance: temperature-smoothed multilingual
    rebalancing (operators.mixing.language_balanced_mix — the XLM
    p^alpha rule): per-language token shares are raised to ``alpha``
    and renormalized, then the standard deterministic epoch/fractional
    mix runs under ``token_budget``. alpha=1 preserves the natural
    distribution, 0 is uniform across languages, 0.3 is the paper's
    value."""
    from snapflow_spark.operators.mixing import language_balanced_mix

    return language_balanced_mix(
        input,
        token_budget=int(token_budget),
        alpha=float(alpha),
        lang_col=lang_col,
        token_col=token_col,
        id_col=id_col,
        salt=salt,
        max_epochs=int(max_epochs),
    )


def _link_graph(
    spark: SparkSession,
    input: DataFrame,  # noqa: A002
    url_col: str = "target_uri",
    links_col: str = "links",
    drop_self: bool = True,
) -> DataFrame:
    """core.link_graph: weighted domain edges from per-page outlinks
    (operators.linkgraph.link_graph_edges)."""
    from snapflow_spark.operators.linkgraph import link_graph_edges

    return link_graph_edges(
        input, url_col=url_col, links_col=links_col, drop_self=drop_self
    )


def _pagerank(
    spark: SparkSession,
    input: DataFrame,  # noqa: A002
    damping: float = 0.85,
    iterations: int = 10,
    weighted: bool = True,
) -> DataFrame:
    """core.pagerank: domain authority over (src, dst, weight) edges
    (operators.linkgraph.pagerank)."""
    from snapflow_spark.operators.linkgraph import pagerank

    return pagerank(
        input,
        damping=damping,
        iterations=iterations,
        weight_col="weight" if weighted else None,
    )


def _url_dedup(
    spark: SparkSession,
    input: DataFrame,  # noqa: A002
    url_col: str = "url",
    id_col: str = "doc_id",
) -> DataFrame:
    """core.url_dedup: one representative per canonical URL
    (functions.urls.url_dedup — the cheapest dedup tier)."""
    from snapflow_spark.functions.urls import url_dedup

    return url_dedup(input, url_col=url_col, id_col=id_col)


def _url_filter(
    spark: SparkSession,
    input: DataFrame,  # noqa: A002
    url_col: str = "url",
    domains: list[str] | None = None,
    phrases: list[str] | None = None,
) -> DataFrame:
    """core.url_filter: drop blocklisted registered domains and/or
    URLs containing blocked phrases (functions.urls
    .filter_url_blocklist, the C4 recipe)."""
    from snapflow_spark.functions.urls import filter_url_blocklist

    return filter_url_blocklist(
        input, url_col=url_col, domains=domains, phrases=phrases
    )


def _scan_files(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    recursive: bool = False,
    max_bytes: int | None = None,
    blob_col: str = "content",
    text: bool = False,
    whole: bool = False,
) -> DataFrame:
    """core.scan_files: zero-input source node over a DIRECTORY OF
    FILES. Default = binary rows (sources.io.read_binary_files, the
    multimodal on-ramp: path/modificationTime/length/<blob_col>
    binary, ``glob`` pruned at listing time, ``max_bytes`` filtered
    on catalog metadata only). ``text: true`` = the raw-text corpus
    on-ramp instead (sources.io.read_text_files: (path, text), one
    doc per line, or per FILE with ``whole: true``)."""
    if text:
        from snapflow_spark.sources.io import read_text_files

        if max_bytes is not None:
            raise ValueError(
                "core.scan_files: max_bytes applies to the binary "
                "form only (text rows have no catalog length)"
            )
        return read_text_files(
            spark, path, whole=whole, glob=glob, recursive=recursive
        )
    if whole:
        raise ValueError(
            "core.scan_files: whole applies to text: true only"
        )
    from snapflow_spark.sources.io import read_binary_files

    df = read_binary_files(
        spark, path, glob=glob, recursive=recursive, max_bytes=max_bytes
    )
    if blob_col != "content":
        df = df.withColumnRenamed("content", blob_col)
    return df


def _scan_delta(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    partition_filter: dict | None = None,
    min_max_filter: dict | None = None,
    timestamp_ms: int | None = None,
) -> DataFrame:
    """core.scan_delta: zero-input source node over a Delta-layout
    table (sources.delta.read_delta — the open-table-format bridge):
    commit-log replay, ``version:`` / ``timestamp_ms:`` time travel,
    ``partition_filter:`` pruning the FILE LIST before any parquet is
    opened, and ``min_max_filter:`` ``{col: [lo, hi]}`` stats-based
    data skipping (an optimization, never a filter — callers still
    apply the real predicate)."""
    from snapflow_spark.sources.delta import read_delta

    return read_delta(
        spark,
        path,
        version=None if version is None else int(version),
        partition_filter=partition_filter,
        min_max_filter=(
            None
            if min_max_filter is None
            else {k: tuple(v) for k, v in min_max_filter.items()}
        ),
        timestamp_ms=(
            None if timestamp_ms is None else int(timestamp_ms)
        ),
    )


def _scan_delta_cdf(
    spark: SparkSession,
    path: str,
    starting_version: int = 0,
    ending_version: int | None = None,
) -> DataFrame:
    """core.scan_delta_cdf: zero-input source node over a Delta
    table's CHANGE DATA FEED (sources.delta.read_delta_cdf) — row
    changes with ``_change_type``/``_commit_version`` for versions
    ``[starting_version, ending_version]`` (default end = latest)."""
    from snapflow_spark.sources.delta import read_delta_cdf

    return read_delta_cdf(
        spark,
        path,
        starting_version=int(starting_version),
        ending_version=(
            None if ending_version is None else int(ending_version)
        ),
    )


def _merge_delta_node(
    spark: SparkSession,
    input: DataFrame,  # noqa: A002
    path: str,
    keys: list[str],
    when_matched: str | dict | None = "update",
    when_not_matched: str | None = "insert",
) -> None:
    """core.merge_delta (round 15): apply the input changelog onto a
    Delta table by key (MERGE — the CDC apply shape;
    sources.delta.merge_delta: distributed DV replace-by-key +
    same-commit inserts, touched-file discovery from the source key
    bounds).  A table SINK: returns None, so the node's own store
    stays empty — the Delta table at ``path`` is the output; read it
    with ``sources.delta.read_delta`` (or a ``core.scan_delta``
    node).

    Run by a Pipeline on a consumable input, the merge is exactly-once:
    its commit carries ``txn=(node, highest input snapshot number)``,
    and a re-run after a crash that lost the ledger commit merges only
    the input snapshots the table does not record yet
    (``incremental.pipeline.current_run``)."""
    from snapflow_spark.incremental.pipeline import current_run
    from snapflow_spark.sources.delta import merge_delta

    source, txn = input, None
    app_id, consumed = current_run() or (None, {})
    if "input" in consumed:
        store, ids = consumed["input"]
        number = {sid: int(sid.split("-")[1]) for sid in ids}
        txn = (app_id, max(number.values()))

        def source(recorded: int) -> DataFrame:
            keep = [sid for sid in ids if number[sid] > recorded]
            return input if keep == ids else store.read(spark, keep)

    merge_delta(
        spark,
        path,
        source,
        on=list(keys),
        when_matched=when_matched,
        when_not_matched=when_not_matched,
        txn=txn,
    )


def _upsert_iceberg_node(
    spark: SparkSession,
    input: DataFrame,  # noqa: A002
    path: str,
    keys: list[str],
) -> None:
    """core.upsert_iceberg (round 15): apply the input changelog onto
    an Iceberg table by key (sources.iceberg.upsert_iceberg — the
    Flink upsert commit: ONE snapshot carrying an equality-delete
    file + the new data at the same sequence, O(keys + rows), no
    table scan).  A table SINK like core.merge_delta: returns None;
    read the table with ``sources.iceberg.read_iceberg`` (or a
    ``core.scan_iceberg`` node)."""
    from snapflow_spark.sources.iceberg import upsert_iceberg

    upsert_iceberg(spark, path, input, keys=list(keys))


def _scan_avro(
    spark: SparkSession,
    path: str,
    glob: str | None = "*.avro",
    recursive: bool = False,
    schema: str | None = None,
) -> DataFrame:
    """core.scan_avro: zero-input source node over a directory of
    Avro object containers (sources.io.read_avro_files — one task per
    file, executor-side decode through the from-scratch codec);
    ``schema:`` (Spark DDL) pins the output type, else the first
    file's writer schema infers it."""
    from snapflow_spark.sources.io import read_avro_files

    return read_avro_files(
        spark, path, glob=glob, recursive=recursive, schema=schema
    )


def _scan_iceberg(
    spark: SparkSession,
    path: str,
    snapshot_id: int | None = None,
    partition_filter: dict | None = None,
    min_max_filter: dict | None = None,
    as_of_ms: int | None = None,
) -> DataFrame:
    """core.scan_iceberg: zero-input source node over an
    Iceberg-layout table (sources.iceberg.read_iceberg — metadata
    JSON + Avro manifests parsed from scratch): ``snapshot_id:`` /
    ``as_of_ms:`` time travel, ``partition_filter:`` pruning the file
    list on identity-transform partition values, ``min_max_filter:``
    ``{col: [lo, hi]}`` bounds-based data skipping."""
    from snapflow_spark.sources.iceberg import read_iceberg

    return read_iceberg(
        spark,
        path,
        snapshot_id=None if snapshot_id is None else int(snapshot_id),
        partition_filter=partition_filter,
        min_max_filter=(
            None
            if min_max_filter is None
            else {k: tuple(v) for k, v in min_max_filter.items()}
        ),
        as_of_ms=None if as_of_ms is None else int(as_of_ms),
    )


def _ingest_gate(
    spark: SparkSession,
    input: DataFrame,  # noqa: A002
    langs: list[str] | None = None,
    gopher: bool = True,
    gopher_thresholds: dict | None = None,
    lm: str | None = None,
    ppl_max: float | None = None,
    model: str | None = None,
    dim: int | None = None,
    batch_size: int = 1024,
) -> DataFrame:
    """core.ingest_gate: the live web-ingest curation composition
    (streaming.ingest.web_ingest_gate) over WARC response rows —
    HTTP split → sniff → HTML main text → lang-id → Gopher → trained
    KN perplexity gate → embedding, every stage map-only so the node
    body is stream-valid.  ``lm:`` is a trained artifact path (the
    core.ppl_buckets convention) and requires a frozen ``ppl_max``;
    ``model:`` is the embed hook's import path (hashed default
    otherwise).  ``langs: []`` disables the language gate (keep
    every language) — an empty allowlist that filtered everything
    would be a silent pipeline-killer, so it means "all" here."""
    from snapflow_spark.streaming.ingest import web_ingest_gate

    trained = None
    if lm is not None:
        from snapflow_spark.functions.kn_lm import load_lm

        trained = load_lm(lm)
    return web_ingest_gate(
        input,
        langs=(tuple(langs) or None) if langs is not None else ("en",),
        gopher_thresholds=(gopher_thresholds if gopher else False),
        lm=trained,
        ppl_max=ppl_max,
        embed_model=model,
        embed_dim=dim,
        embed_batch_size=int(batch_size),
    )


def _scan_warc(
    spark: SparkSession,
    path: str,
    types: str | None = None,
    max_record_bytes: int | None = None,
    truncated: str = "fail",
    wet: bool = False,
    wat: bool = False,
    index: str | None = None,
    index_filename_col: str = "warc_filename",
) -> DataFrame:
    """core.scan_warc: zero-input source node over WARC/WET/WAT
    archives (sources.warc — the Common Crawl on-ramp). ``wet: true``
    narrows to ``conversion`` records decoded to a ``text`` column
    (the shape every downstream text builtin expects); ``wat: true``
    narrows to ``metadata`` records parsed to
    ``target_uri``/``title``/``links`` (the link-graph-without-HTML
    path — pipe straight into core.link_graph). ``index`` (round 9):
    path to a cc-index-style parquet table whose
    ``index_filename_col`` PRUNES the scan to matching files only —
    filter the index upstream, never open the rest."""
    from snapflow_spark.sources.warc import read_warc, wet_text

    if wet and wat:
        raise ValueError("core.scan_warc: wet and wat are mutually exclusive")
    opts: dict[str, object] = {"truncated": truncated}
    if types is not None:
        opts["types"] = types
    if max_record_bytes is not None:
        opts["max_record_bytes"] = max_record_bytes
    idx = spark.read.parquet(index) if index is not None else None
    df = read_warc(
        spark, path, index=idx, index_filename_col=index_filename_col, **opts
    )
    if wet:
        return wet_text(df)
    if wat:
        from snapflow_spark.sources.wat import parse_wat

        return parse_wat(df)
    return df


BUILTINS: dict[str, Callable[..., DataFrame | None]] = {
    "core.accumulate": _accumulate,
    "core.dedupe_keep_latest": _dedupe_keep_latest,
    "core.sql": _sql,
    "core.filter": _filter,
    "core.select": _select,
    "core.split": _split,
    "core.sample": _sample,
    "core.pack": _pack,
    "core.cap": _cap,
    "core.dedup_lines": _dedup_lines,
    "core.excise_spans": _excise_spans,
    "core.bm25": _bm25,
    "core.expect": _expect,
    "core.tokenize": _tokenize,
    "core.dsir": _dsir,
    "core.ppl_buckets": _ppl_buckets,
    "core.ingest_gate": _ingest_gate,
    "core.frequent_items": _frequent_items,
    "core.profile": _profile,
    "core.gopher_filter": _gopher_filter,
    "core.c4_clean": _c4_clean,
    "core.robots_filter": _robots_filter,
    "core.sitemap_urls": _sitemap_urls,
    "core.dedup_incremental": _dedup_incremental,
    "core.shuffle": _shuffle,
    "core.lang_id": _lang_id,
    "core.quality_filter": _quality_filter,
    "core.semantic_dedup": _semantic_dedup,
    "core.d4": _d4,
    "core.scan_files": _scan_files,
    "core.scan_delta": _scan_delta,
    "core.scan_delta_cdf": _scan_delta_cdf,
    "core.merge_delta": _merge_delta_node,
    "core.upsert_iceberg": _upsert_iceberg_node,
    "core.scan_iceberg": _scan_iceberg,
    "core.scan_avro": _scan_avro,
    "core.text_embed": _text_embed,
    "core.sniff_format": _sniff_format,
    "core.http_parts": _http_parts,
    "core.image_dedup": _image_dedup,
    "core.scan_warc": _scan_warc,
    "core.url_dedup": _url_dedup,
    "core.html_text": _html_text,
    "core.pdf_text": _pdf_text,
    "core.normalize_text": _normalize_text,
    "core.link_graph": _link_graph,
    "core.mix": _mix,
    "core.lang_balance": _lang_balance,
    "core.chunk_text": _chunk_text,
    "core.pagerank": _pagerank,
    "core.url_filter": _url_filter,
    "core.audio_dedup": _audio_dedup,
    "core.video_dedup": _video_dedup,
}


def resolve_function(ref: str) -> Callable[..., DataFrame | None]:
    """'core.*' builtin, or 'package.module:callable' import path."""
    if ref in BUILTINS:
        return BUILTINS[ref]
    if ":" not in ref:
        raise ValueError(
            f"unknown function {ref!r}: not a core.* builtin "
            f"({sorted(BUILTINS)}) and not a 'module:callable' import path"
        )
    mod_name, attr = ref.split(":", 1)
    fn = getattr(importlib.import_module(mod_name), attr)
    if not callable(fn):
        raise TypeError(f"{ref!r} resolved to non-callable {fn!r}")
    return fn


def _normalize_upstream(spec) -> str | dict | None:
    """YAML upstream -> GraphBuilder upstream shorthand."""
    if spec is None or isinstance(spec, str):
        return spec
    if not isinstance(spec, dict):
        raise ValueError(f"upstream must be a name or mapping, got {spec!r}")
    out = {}
    for input_name, entry in spec.items():
        if isinstance(entry, str):
            out[input_name] = entry
        else:
            mode = entry.get("mode", "consumable")
            if mode not in _MODES:
                raise ValueError(f"unknown input mode {mode!r} (want {_MODES})")
            out[input_name] = (entry["node"], mode)
    return out


def load_graph(config: dict | str | Path, warehouse: str | None = None) -> GraphBuilder:
    """Build a GraphBuilder from a YAML file path or an already-parsed
    config mapping. ``warehouse`` overrides the file's value (the CLI
    does this for --warehouse)."""
    if not isinstance(config, dict):
        import yaml

        with open(config) as f:
            config = yaml.safe_load(f)
    if not isinstance(config, dict):
        raise ValueError("pipeline config must be a mapping")

    wh = warehouse or config.get("warehouse")
    if not wh:
        raise ValueError("config needs a 'warehouse' (or pass warehouse=...)")
    g = graph(str(wh))

    for src in config.get("sources", []):
        name = src["name"] if isinstance(src, dict) else src
        store = g.source(name)
        # a source may declare its own importer (snapflow's importer
        # nodes, EP3-complete): `pager: module:callable` + `schema`
        # runs the cursor-checkpointed connector loop at the start of
        # every produce(), so the config alone pulls external data —
        # resume/caught-up semantics come from import_api_pages
        if isinstance(src, dict) and "pager" in src:
            if "schema" not in src:
                raise ValueError(
                    f"source {name!r} declares a pager and must declare a "
                    "schema (API records are schemaless dicts)"
                )
            pager_ref = src["pager"]
            schema = src["schema"]
            max_pages = src.get("max_pages")

            def _import(
                spark: SparkSession,
                _store=store,
                _ref=pager_ref,
                _schema=schema,
                _max=max_pages,
            ) -> None:
                from snapflow_spark.sources.connectors import import_api_pages
                from snapflow_spark.sources.datasource import resolve_pager

                import_api_pages(
                    spark,
                    fetch_page=resolve_pager(_ref),
                    schema=_schema,
                    store=_store,
                    max_pages=_max,
                )

            g.add_importer(_import)
        # round 8: `warc: path` sources run the incremental file
        # importer — each produce() ingests only files not yet in the
        # checkpointed cursor (crawl dumps arrive as batches of
        # immutable files; presence in the cursor IS done-ness)
        elif isinstance(src, dict) and "warc" in src:
            warc_path = src["warc"]
            warc_opts = {
                "types": src.get("types"),
                "wet": bool(src.get("wet", False)),
                "truncated": src.get("truncated", "fail"),
                "max_files": src.get("max_files"),
            }
            warc_index = src.get("index")  # cc-index parquet path (r9)
            warc_index_col = src.get("index_filename_col", "warc_filename")

            def _import_warc(
                spark: SparkSession,
                _store=store,
                _path=warc_path,
                _opts=warc_opts,
                _index=warc_index,
                _index_col=warc_index_col,
            ) -> None:
                from snapflow_spark.sources.warc import import_warc_files

                idx = (
                    spark.read.parquet(_index) if _index is not None else None
                )
                import_warc_files(
                    spark, _path, _store,
                    index=idx, index_filename_col=_index_col, **_opts,
                )

            g.add_importer(_import_warc)

    for node in config.get("nodes", []):
        fn = resolve_function(node["function"])
        params = node.get("params") or {}
        if params:
            base = fn

            def bound(spark, _base=base, _params=params, **inputs):
                return _base(spark, **inputs, **_params)

            bound.__name__ = getattr(fn, "__name__", node["function"])
            fn = bound
        g.create_node(
            name=node["name"],
            function=fn,
            upstream=_normalize_upstream(node.get("upstream")),
            overwrite=bool(node.get("overwrite", False)),
        )
    return g


def produce_file(
    spark: SparkSession, path: str | Path, warehouse: str | None = None
) -> tuple[GraphBuilder, int]:
    """EP3 entry: load the YAML graph and run to the reactive fixed
    point. Returns (graph, number of node executions)."""
    g = load_graph(path, warehouse=warehouse)
    ran = g.produce(spark)
    return g, ran
