"""URL canonicalization & filtering (C4 / RefinedWeb-style) — pure
whole-stage-codegen expressions, no Python in the hot path.

Web-scale corpora (Common Crawl WARC/WET — sources/warc.py is the
scan) are keyed by URL, and the first cleaning passes any real
pipeline runs are URL-level: canonicalize (the same page arrives as
``HTTP://WWW.Site.COM:80/a/?b=2&utm_source=x&a=1#frag`` and
``http://site.com/a?a=1&b=2``), dedup by canonical URL, and drop
blocklisted domains (the C4 recipe) — all BEFORE paying for text
dedup or model scoring, because a string groupBy is orders of
magnitude cheaper than MinHash.

Everything here is Spark column expressions (regexp/array algebra →
WholeStageCodegen); the only joins are broadcast (a blocklist is
thousands of domains, not billions). At 100 TB the URL pass is a
single scan + one groupBy shuffle on the canonical-url key.

Normalization contract (documented order, replayed by the
q_dedup_exact 'url' oracle branch in DuckDB SQL):
  1. drop the ``#fragment``, then trim.
  2. scheme and host lowercase (path/query stay case-sensitive).
  3. default ports stripped (``:80`` for http, ``:443`` for https);
     non-default ports kept.
  4. leading ``www.`` dropped from the host.
  5. tracking query params dropped (``utm_*``, fbclid, gclid,
     msclkid, igshid, mc_cid, mc_eid, ref, ref_src), remaining
     params SORTED bytewise and re-joined — param order never
     distinguishes pages.
  6. a bare ``/`` path and a trailing ``/`` are dropped (``http://a``
     == ``http://a/`` == ``http://a/x/`` vs ``http://a/x``).
Deliberately NOT handled (documented, not silent): userinfo
(``user:pw@host`` — vanishingly rare in crawls, kept verbatim inside
the host part), percent-encoding equivalence, IDN/punycode.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Query-param keys that identify tracking, not content (C4 keeps no
#: such list; this is the standard analytics set).
TRACKING_PARAM_RE = (
    "^(utm_[^=]*|fbclid|gclid|msclkid|igshid|mc_cid|mc_eid|ref|ref_src)(=|$)"
)

#: Historical bounded heuristic (rounds ≤8): second-level suffixes
#: under which registration happens one label deeper. Superseded by
#: the full vendored PSL (functions/psl.py) as of round 9 — kept as
#: the documented zero-table fallback for `registered_domain_expr
#: (..., psl="heuristic")` and for back-compat imports.
TWO_LEVEL_SUFFIXES = (
    "co.uk", "ac.uk", "gov.uk", "org.uk", "me.uk", "net.uk",
    "com.au", "net.au", "org.au", "co.jp", "ne.jp", "or.jp",
    "co.nz", "net.nz", "org.nz", "co.in", "net.in", "org.in",
    "com.br", "com.mx", "com.ar", "com.cn", "com.tw", "com.hk",
    "co.kr", "com.sg", "co.za", "com.tr", "co.il", "com.pl",
)


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def _isin_lits(col: Column, values) -> Column:
    """Chatter-free literal membership (see psl.isin_literals)."""
    from snapflow_spark.functions.psl import isin_literals

    return isin_literals(col, values)


def host_expr(url: Column | str) -> Column:
    """Lowercased host[:port] of an absolute URL ('' if not one).
    Plain-string inputs memoize the fragment per context (round 18,
    functions/fragments.py — these towers cost hundreds of py4j round
    trips per construction and are pure functions of the name)."""
    if isinstance(url, str):
        from snapflow_spark.functions.fragments import memo_fragment

        return memo_fragment(
            ("urls.host", url), lambda: host_expr(F.col(url))
        )
    return F.lower(F.regexp_extract(F.trim(url), r"^[^:/?#]+://([^/?#]+)", 1))


def registered_domain_expr(host: Column | str, psl=None) -> Column:
    """eTLD+1 ('registered domain') of a lowercase host: the unit C4
    blocklists, per-domain caps, link-graph edges and PageRank nodes
    operate on.

    Round 9: full publicsuffix.org longest-match over the vendored
    snapshot (functions/psl.py — exact + wildcard ``*.ck`` +
    exception ``!www.ck`` rules, InSet hash probes in codegen).
    ``psl=`` accepts a ``CompiledPSL`` (e.g. ``load_psl(path)`` with
    the full current file) or the string ``"heuristic"`` for the
    pre-round-9 two-level table; hosts that are themselves public
    suffixes (or shorter) pass through unchanged. Plain-string inputs
    over the default/heuristic tables memoize the fragment per context
    (functions/fragments.py)."""
    if isinstance(host, str) and (psl is None or psl == "heuristic"):
        from snapflow_spark.functions.fragments import memo_fragment

        return memo_fragment(
            ("urls.registered_domain", host, psl),
            lambda: registered_domain_expr(F.col(host), psl),
        )
    if psl == "heuristic":
        h = F.regexp_replace(_c(host), r":\d+$", "")  # ignore any port
        labels = F.split(h, r"\.")
        n = F.size(labels)
        last2 = F.concat_ws(
            ".", F.element_at(labels, -2), F.element_at(labels, -1)
        )
        last3 = F.concat_ws(".", F.element_at(labels, -3), last2)
        return (
            F.when((n >= 3) & _isin_lits(last2, sorted(TWO_LEVEL_SUFFIXES)), last3)
            .when(n >= 2, last2)
            .otherwise(h)
        )
    from snapflow_spark.functions import psl as _psl_mod

    return _psl_mod.registered_domain_expr(_c(host), psl)


def normalize_url_expr(url: Column | str) -> Column:
    """Canonical form of an absolute http(s) URL per the module
    contract — one codegen expression, NULL-safe (non-URLs normalize
    to their trimmed, de-fragmented self so garbage rows stay
    groupable instead of erroring). Plain-string inputs memoize the
    fragment per context (functions/fragments.py)."""
    if isinstance(url, str):
        from snapflow_spark.functions.fragments import memo_fragment

        return memo_fragment(
            ("urls.normalize", url), lambda: normalize_url_expr(F.col(url))
        )
    u = F.trim(F.regexp_replace(_c(url), "#.*$", ""))  # 1. fragment, then trim
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    hostport = F.lower(F.regexp_extract(u, r"^[^:/?#]+://([^/?#]+)", 1))
    # 3. default ports (by scheme), then 4. leading www.
    host = F.when(
        scheme == "http", F.regexp_replace(hostport, ":80$", "")
    ).when(
        scheme == "https", F.regexp_replace(hostport, ":443$", "")
    ).otherwise(hostport)
    host = F.regexp_replace(host, r"^www\.", "")
    path = F.regexp_extract(u, r"^[^:/?#]+://[^/?#]+([^?#]*)", 1)
    path = F.regexp_replace(path, "/$", "")  # 6. trailing slash ('' and '/' both -> '')
    query = F.regexp_extract(u, r"\?([^#]*)", 1)
    params = F.filter(
        F.split(query, "&"),
        lambda p: (p != "") & ~p.rlike(TRACKING_PARAM_RE),
    )
    qnorm = F.array_join(F.array_sort(params), "&")
    rebuilt = F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(qnorm != "", F.concat(F.lit("?"), qnorm)).otherwise(F.lit("")),
    )
    return F.when(scheme == "", u).otherwise(rebuilt)


def url_dedup(
    df: DataFrame, url_col: str = "url", id_col: str = "doc_id"
) -> DataFrame:
    """One representative (min id) per CANONICAL url + n_copies —
    exact_dedup's shape on the normalized-URL key. A plain hash
    groupBy: the cheapest dedup tier, run before any text pass."""
    return (
        df.withColumn("canonical_url", normalize_url_expr(url_col))
        .groupBy("canonical_url")
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def filter_url_blocklist(
    df: DataFrame,
    url_col: str = "url",
    domains: DataFrame | list[str] | None = None,
    phrases: list[str] | None = None,
    observation=None,
) -> DataFrame:
    """C4-style URL filtering: drop rows whose REGISTERED DOMAIN is
    blocklisted and/or whose URL contains any blocked phrase
    (case-insensitive substring — the C4 'bad words in URL' rule).

    ``domains`` as a DataFrame (one ``domain`` string column) becomes
    a broadcast LEFT ANTI join — the scale path for real blocklists
    (UT1 is ~4M lines: still MBs, still broadcastable); a small
    literal list compiles to an ``isin`` filter with no join at all.

    ``observation`` (``pyspark.sql.Observation``): a filter that
    silently eats 40% of a crawl is a production incident, so when
    given, ``rows_in``/``rows_kept``/``rows_dropped`` accumulate on
    the caller's own action (the cap_per_domain convention,
    operators/curation.py — zero extra scans). To make drop a
    row-local flag, the DataFrame-blocklist path switches from a
    LEFT ANTI join to a broadcast left join + marker (same cost,
    same broadcast). Read ``observation.get`` AFTER the first
    action."""
    out = df
    drop = F.lit(False)
    if domains is not None:
        rd = registered_domain_expr(host_expr(url_col))
        if isinstance(domains, DataFrame):
            block = F.broadcast(
                domains.select(
                    F.lower(F.col("domain")).alias("__block_domain")
                ).distinct()
            )
            out = out.withColumn("__rd", rd).join(
                block, F.col("__rd") == F.col("__block_domain"), "left"
            )
            drop = drop | F.col("__block_domain").isNotNull()
        else:
            drop = drop | _isin_lits(rd, [d.lower() for d in domains])
    if phrases:
        lowered = F.lower(_c(url_col))
        for p in phrases:
            drop = drop | lowered.contains(p.lower())
    out = out.withColumn("__url_drop", F.coalesce(drop, F.lit(False)))
    if observation is not None:
        d = F.col("__url_drop")
        out = out.observe(
            observation,
            F.count(F.lit(1)).alias("rows_in"),
            F.sum((~d).cast("long")).alias("rows_kept"),
            F.sum(d.cast("long")).alias("rows_dropped"),
        )
    return out.where(~F.col("__url_drop")).drop(
        "__url_drop", "__rd", "__block_domain"
    )
