from snapflow_spark.functions.bloom import (
    BloomFilter,
    build_bloom,
    filter_might_contain,
)
from snapflow_spark.functions.sketches import (
    hll_partials,
    hll_rollup,
    kll_quantile_partials,
    kll_rollup_quantiles,
    theta_overlap,
    theta_partials,
    theta_rollup,
)
from snapflow_spark.functions.text import (
    lang_id_expr,
    quality_score_expr,
    token_count_udf,
    tokens_expr,
)
from snapflow_spark.functions.embed import ImportedCallable, embed_with_model
from snapflow_spark.functions.kn_lm import (
    KNBigramLM,
    KNGramLM,
    load_lm,
    load_tokenizer,
    train_kn_bigram,
    train_kn_ngram,
)
from snapflow_spark.functions.html import (
    decode_html_bytes,
    extract_html,
    extract_main_text,
    html_extract,
    html_to_text_expr,
    main_text_expr,
    main_text_from_bytes,
)
from snapflow_spark.functions.psl import (
    CompiledPSL,
    compile_psl,
    default_psl,
    load_psl,
    parse_psl,
    registered_domain_py,
)
from snapflow_spark.functions.robots import (
    filter_robots_disallowed,
    parse_robots_rules,
    parse_robots_txt,
)
from snapflow_spark.functions.sitemaps import (
    parse_sitemap,
    parse_sitemaps,
    robots_sitemaps,
)
from snapflow_spark.functions.urls import (
    filter_url_blocklist,
    host_expr,
    normalize_url_expr,
    registered_domain_expr,
    url_dedup,
)
from snapflow_spark.functions.vectors import cosine_similarity, l2_norm

__all__ = [
    "BloomFilter",
    "build_bloom",
    "ImportedCallable",
    "embed_with_model",
    "KNBigramLM",
    "train_kn_bigram",
    "KNGramLM",
    "load_lm",
    "load_tokenizer",
    "train_kn_ngram",
    "cosine_similarity",
    "filter_might_contain",
    "hll_partials",
    "hll_rollup",
    "kll_quantile_partials",
    "kll_rollup_quantiles",
    "l2_norm",
    "decode_html_bytes",
    "extract_html",
    "extract_main_text",
    "filter_url_blocklist",
    "html_extract",
    "html_to_text_expr",
    "main_text_expr",
    "main_text_from_bytes",
    "host_expr",
    "lang_id_expr",
    "normalize_url_expr",
    "CompiledPSL",
    "compile_psl",
    "default_psl",
    "load_psl",
    "parse_psl",
    "registered_domain_expr",
    "registered_domain_py",
    "filter_robots_disallowed",
    "parse_robots_rules",
    "parse_robots_txt",
    "parse_sitemap",
    "parse_sitemaps",
    "robots_sitemaps",
    "url_dedup",
    "quality_score_expr",
    "theta_overlap",
    "theta_partials",
    "theta_rollup",
    "token_count_udf",
    "tokens_expr",
]
