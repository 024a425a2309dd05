"""Engine operators — snapflow's framework ops re-expressed on Spark.

Each module documents which SURVEY.md §2 row it fulfills and the
scale story (shuffle/broadcast behavior at 100 TB).
"""

from snapflow_spark.operators.asof import asof_join
from snapflow_spark.operators.curation import (
    cap_per_domain,
    chunk_text,
    contamination_pairs,
    pack_sequences,
    pack_sequences_bfd,
    split_by_hash,
    stratified_sample_by_hash,
)
from snapflow_spark.operators.mixing import (
    language_balanced_mix,
    mix_corpora,
    mix_report,
    temperature_weights,
)
from snapflow_spark.operators.profile import (
    corpus_profile,
    embedding_profile,
    profile_diff,
    profile_partials,
    profile_report,
)
from snapflow_spark.operators.linkgraph import (
    domain_degrees,
    link_graph_edges,
    pagerank,
)
from snapflow_spark.operators.dedup_text import (
    connected_components,
    dedup_cluster_representatives,
    dedup_lines_global,
    shared_span_pairs,
    exact_dedup,
    mingram_candidates,
    minhash_sha_candidates,
    ngram_jaccard_pairs,
    simhash_sha_candidates,
)
from snapflow_spark.operators.dedupe import dedupe_keep_latest
from snapflow_spark.operators.merge import merge_streams
from snapflow_spark.operators.rangejoin import banded_range_join
from snapflow_spark.operators.retrieval import (
    bm25_topk,
    build_vocab,
    doc_terms,
)
from snapflow_spark.operators.schema_translate import schema_translate
from snapflow_spark.operators.classifier import (
    QualityClassifier,
    featurize_docs,
    score_quality,
    train_quality_classifier,
)
from snapflow_spark.operators.selection import (
    dsir_log_weights,
    dsir_select,
    lm_cross_entropy,
)
from snapflow_spark.operators.similarity import (
    IVFIndex,
    PQCodec,
    brute_force_topk,
    derive_k_cells,
    embedding_near_dup_pairs_int,
    semantic_dedup,
    prototype_filter,
    d4_select,
)
from snapflow_spark.operators.skew import salted_count_by_key, salted_join
from snapflow_spark.operators.sql_snap import sql_snap
from snapflow_spark.operators.topk import grouped_topk, topk

__all__ = [
    "bm25_topk",
    "build_vocab",
    "cap_per_domain",
    "chunk_text",
    "doc_terms",
    "dedup_lines_global",
    "shared_span_pairs",
    "connected_components",
    "dedup_cluster_representatives",
    "contamination_pairs",
    "pack_sequences",
    "pack_sequences_bfd",
    "split_by_hash",
    "stratified_sample_by_hash",
    "IVFIndex",
    "PQCodec",
    "asof_join",
    "banded_range_join",
    "brute_force_topk",
    "dedupe_keep_latest",
    "derive_k_cells",
    "semantic_dedup",
    "QualityClassifier",
    "featurize_docs",
    "score_quality",
    "train_quality_classifier",
    "dsir_log_weights",
    "dsir_select",
    "lm_cross_entropy",
    "embedding_near_dup_pairs_int",
    "exact_dedup",
    "grouped_topk",
    "merge_streams",
    "mingram_candidates",
    "minhash_sha_candidates",
    "ngram_jaccard_pairs",
    "salted_count_by_key",
    "salted_join",
    "schema_translate",
    "simhash_sha_candidates",
    "sql_snap",
    "topk",
    "domain_degrees",
    "link_graph_edges",
    "pagerank",
    "language_balanced_mix",
    "mix_corpora",
    "mix_report",
    "temperature_weights",
    "corpus_profile",
    "embedding_profile",
    "profile_diff",
    "profile_partials",
    "profile_report",
    "prototype_filter",
    "d4_select",
]
