"""Two-scale-factor bench: measure the heavy-tail operators at sf0.1
and at the gen_scale.py ~10x corpus, and report wall-clock ratios.

This is the empirical backing for SCALE.md: the 100 TB argument is
plan shape (bucketed candidate generation, broadcast dims, pruned
scans); this harness shows the same plans actually scale ~linearly
when the data does. Ratios well under the data factor mean the query
is still overhead-dominated at this size; ratios near the factor mean
linear work; ratios far above it would expose quadratic behavior.

Protocol: sequential, one query at a time, ``clearCache()`` between
queries; per (query, sf): cold run then warm run, both materialized
through the same noop sink bench.py uses (a ``count()`` would let
Catalyst prune declared projected columns and under-measure the
query's physical plan). Emits one JSON document (default
``SCALE_BENCH.json``) keyed by query with base/scaled secs + ratio.

Usage::

    python tools/gen_scale.py --out .scratch/sf1      # once
    python tools/bench_scale.py [--factor 10] [--out SCALE_BENCH.json]
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

# module-level so pandas_udf string hints resolve under
# `from __future__ import annotations` (the UNSUPPORTED_SIGNATURE trap)
import pandas as pd  # noqa: F401

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from snapflow_spark.registry import all_queries
from snapflow_spark.session import build_session

# Heavy-tail roster: every query bound to a scaled table
# (documents / embeddings / events). Annotations explain expected
# non-linear rows (constant-output or bounded-slice queries).
HEAVY = {
    "q_dedup_exact": "documents; output ~linear",
    "q_dedup_minhash": "documents; bucketed LSH cascade",
    "q_dedup_simhash": "documents; sha256 simhash bands",
    "q_dedup_ngram": "documents; min-gram blocking",
    "q_pipeline_docs": (
        "documents; dedup->quality->cap->split->pack->stats, 5 agg rows;"
        " cap_per_domain (<=18/source, fixed source set) bounds the"
        " post-cap stages by DESIGN, so ~constant beyond the scan"
    ),
    "q_tokenize_bpe": "documents; Arrow-batched tokenizer",
    "q_text_quality": (
        "documents; quality sweep + DSIR selection (hashed-gram window, "
        "round 5; deferred totals + hash-matched classifier scoring "
        "branch round 6) — selection output fixed at 20 by design"
    ),
    "q_fingerprint_winnow": (
        "documents; winnow fingerprints + copied-span pairs (round 6): "
        "explode -> one fp shuffle -> pair groupBy; span pairs scale "
        "with real collisions, buckets truncated at 64; round 8 adds "
        "the 'excise' branch (sha256 oracle tier)"
    ),
    "op_excise_spans": (
        "documents; ExactSubstr span excision, PRODUCTION mode "
        "(xxhash64 keys, de-skewed partial-agg keeper, round 8) — "
        "full op incl. both output branches and the pandas surgery; "
        "not a standalone roster query (the roster carries its sha256 "
        "tier inside q_fingerprint_winnow), benched here directly"
    ),
    "op_url_dedup": (
        "documents; URL canonicalize + dedup (round 8, functions/urls) "
        "over doc_id-synthesized URLs (the q_dedup_exact 'url' "
        "construction at corpus width) — codegen normalize + ONE "
        "groupBy; expected ~linear"
    ),
    "op_html_extract": (
        "documents; HTML->text extraction (round 8, functions/html) "
        "over codegen-wrapped markup of each doc's text — map-only "
        "Arrow-batched python parse; expected ~linear (the honest "
        "python cost of the WET-production step)"
    ),
    "op_mix_text": (
        "documents; mix_corpora DIRECTLY over raw text with n_tokens "
        "computed inline (round 9 A/B) — every surviving epoch branch "
        "re-scans parquet AND re-runs the tokenizer: the documented "
        "anti-pattern at scale, measured here as the baseline"
    ),
    "op_mix_meta": (
        "documents; the recommended shape (round 9): materialize "
        "(doc_id, n_tokens) once, mix the METADATA, join text back a "
        "single time — epoch re-scans touch integers, the tokenizer "
        "runs once; selection bit-identical to op_mix_text by test"
    ),
    "op_gopher_signals": (
        "documents; the full Gopher rule battery (round 9, "
        "operators/gopher.py) — per-row codegen rules + 11 sorted "
        "per-doc repetition folds, map-only (zero shuffles); "
        "expected ~linear in corpus text bytes"
    ),
    "op_langid_predict": (
        "documents; trained lang-id scoring (round 9, "
        "operators/langid.py) — fused char-n-gram featurize + softmax "
        "in one Arrow pass over a fixture-trained 6-language model; "
        "map-only, expected ~linear"
    ),
    "op_robots_filter": (
        "documents; RFC 9309 permission filtering (round 9, "
        "functions/robots.py) over doc_id-synthesized URLs against a "
        "200-host rules table — host hash join + per-candidate LIKE + "
        "one groupBy(url) winner agg"
    ),
    "op_c4_signals": (
        "documents; the C4 line/page battery's signal computation "
        "(round 9, operators/c4.py) — one map-only codegen projection "
        "(line split/filter/rejoin + sentence counting); measured as "
        "SIGNALS like op_gopher_signals because the fixtures' "
        "word-salad text has no terminal punctuation, so the filter "
        "form keeps 0 rows and would measure nothing; expected "
        "~linear in corpus text bytes"
    ),
    "op_normalize_clean": (
        "documents; codegen hygiene tier ONLY (round 9, "
        "functions/normalize.py clean_text_expr) — 4 regexp_replace "
        "passes, zero python; the 100 TB-path configuration"
    ),
    "op_normalize_full": (
        "documents; clean + mojibake repair + NFKC (round 9) — the "
        "Arrow tier added on top; the delta vs op_normalize_clean is "
        "the honest python cost of unicode normalization"
    ),
    "op_pdf_extract": (
        "documents; PDF->text extraction (round 9, multimodal/pdf.py) "
        "over per-doc PDFs synthesized ONCE per sf into .scratch by "
        "the encoder twin (cold run absorbs the build, warm run "
        "measures extraction) — map-only Arrow-batched parse; "
        "expected ~linear like op_html_extract"
    ),
    "op_wordpiece_encode": (
        "documents; WordPiece greedy MaxMatch encode (round 9, "
        "functions/wordpiece.py) with a base-corpus-trained vocab "
        "(trained once per process, like op_langid_predict) — "
        "map-only Arrow pass with the per-batch Zipf cache"
    ),
    "op_profile": (
        "documents; corpus data card (round 9, operators/profile.py) "
        "— ONE codegen-feature scan folded map-side into counters + "
        "KLL/HLL sketches, then the merge-only report; shuffle is "
        "O(groups)=1 row, so cost is the feature scan: expected "
        "~linear in text bytes"
    ),
    "op_byte_bpe_encode": (
        "documents; byte-level BPE encode (round 10, "
        "functions/byte_bpe.py) with a base-corpus-trained 2k-merge "
        "vocab — map-only Arrow pass, per-batch Zipf cache; training "
        "excluded (one-time, own pytest tier)"
    ),
    "op_chunk_text": (
        "documents; overlapping token-window chunking (round 10, "
        "curation.chunk_text 64/8) — pure codegen "
        "tokenize->sequence->posexplode->slice; row growth IS the "
        "output, so wall should track output rows ~linearly"
    ),
    "op_d4": (
        "embeddings; full D4 recipe (round 9, similarity.py d4_select) "
        "— one IVFIndex build+assign serving SemDeDup cell pairs AND "
        "prototype ranking; in-cell quadratic bounded by "
        "cell_max_bucket, ranking one window on the cell key"
    ),
    "op_kn_score": (
        "documents; round-11 Kneser-Ney perplexity scoring with a "
        "base-corpus-trained order-3 modified-KN model (training "
        "excluded: one-time, cold absorbs it) — ONE broadcast "
        "Arrow-batched map over Spark-tokenized arrays, no shuffle; "
        "expected ~linear in text"
    ),
    "op_dedup_incremental": (
        "documents; FIXED 1000-doc batch near-deduped against a "
        "STANDING MinHash history built from the whole corpus (round "
        "11, dedup_incremental.incremental_minhash_dedup) — cold "
        "includes the one-time history import, warm is the steady "
        "state: batch fingerprints + band-key join against history "
        "artifacts (~32 B/doc), never re-reading corpus text; the "
        "warm ratio is the claim (history 10x, batch constant -> "
        "history-side join growth only)"
    ),
    "op_ivfpq_append": (
        "embeddings; FIXED 200-vector delta appended into a SAVED "
        "IVF-PQ index of the whole corpus (round 11, "
        "IVFPQIndex.append_to_saved) — cold includes the one-time "
        "build+save, warm is the steady state: load centroids/"
        "codebooks only (never the coded corpus), assign+encode the "
        "delta, append-write its cell partitions; warm ratio ~1 is "
        "the claim (delta cost independent of standing-index size)"
    ),
    "op_ledger_commit": (
        "documents-derived commit count; the snapshot-publish steady "
        "state with a STANDING history (TableLedger commits + "
        "SnapshotStore snapshot dirs, both ~n_docs/50): warm = a "
        "FIXED 30-cycle batch of append+mark plus one checkpoint+"
        "vacuum compaction — mark cost is O(delta) (one create-"
        "exclusive file publish; the refresh listing is bounded by "
        "vacuum), so warm should stay flat as the standing history "
        "grows 10x"
    ),
    "op_embed_model": (
        "documents; round-11 model-embedding hook with the "
        "deterministic numpy stand-in encoder "
        "(embed.stub_embed_batch, resolved per worker via its import "
        "path) — scalar Arrow pandas UDF, map-only: ONLY the text "
        "column crosses the python boundary and only the vectors "
        "come back; expected ~linear in text bytes"
    ),
    "op_delta_delete": (
        "documents as a STANDING Delta table (cold absorbs the "
        "export, round 14): warm = delete_from_delta over a FRESH "
        "500-key doc_id range per call with a min_max_filter prune "
        "pinned to that range — the file list prunes driver-side "
        "from log stats before any scan, the matched indexes ride a "
        "per-file collect bounded by O(rows deleted), and the DV "
        "sidecar write is O(deleted), so warm should stay ~flat as "
        "the corpus grows 10x"
    ),
    "op_delta_dv_read": (
        "documents as a STANDING Delta table (cold absorbs the "
        "export, round 13): warm = a stats-pruned single-file-range "
        "read with a 500-row DELETION VECTOR applied — the file list "
        "prunes driver-side from O(#files) log metadata and the DV "
        "anti-join is O(deleted rows), so warm should stay ~flat as "
        "the corpus (and its file count) grows 10x"
    ),
    "op_delta_merge": (
        "documents as a STANDING Delta table (cold absorbs the "
        "export, round 15): warm = merge_delta of a FRESH 500-key "
        "changelog per call (updates over one doc_id range) — the "
        "projected changelog stages first and its files' stats bound "
        "the keys, which prune the target file list from log stats "
        "(touched-file discovery); one match pass marks the matched "
        "rows dead via DVs and returns every count, in the same "
        "commit; warm should stay ~flat as the corpus grows 10x"
    ),
    "op_iceberg_upsert": (
        "documents as a STANDING Iceberg table (cold absorbs the "
        "export, round 15): warm = upsert_iceberg of a FRESH 500-key "
        "changelog per call — one equality-delete file + data files "
        "at the same sequence in ONE snapshot, O(keys + new rows) "
        "with NO table scan, so warm should stay ~flat as the corpus "
        "grows 10x (manifest carry-forward is O(#snapshots) driver "
        "metadata)"
    ),
    "op_iceberg_bucket_upsert": (
        "documents as a STANDING bucket[8]-partitioned Iceberg table "
        "(cold absorbs the export incl. the transform staging, round "
        "16): warm = upsert_iceberg of a FRESH 500-key changelog per "
        "call — the bucket transform (numpy-murmur3 Arrow stage) "
        "runs only over the changelog rows, so warm should stay "
        "~flat as the corpus grows 10x, matching the identity-spec "
        "upsert row"
    ),
    "op_iceberg_update": (
        "documents as a STANDING Iceberg table (cold absorbs the "
        "export, round 15): warm = update_iceberg over a FRESH "
        "500-key doc_id range per call — one scan finds matches "
        "(position-delete parquet written distributed), the "
        "rewritten rows stage as new files, both in ONE snapshot; "
        "the scan is the corpus-bound part, so warm tracks the scan "
        "until stats pruning lands on the iceberg side"
    ),
    "q_udaf_grouped": "events; applyInPandas, groups x factor",
    "q_incremental_semantics": "events; 3 snapshot ticks + dedupe",
    "q_stream_windows": "events; tumbling+sliding agg",
    "q_stream_session": "events; session windows",
    "q_similarity_ann": "embeddings; IVF build + probe",
    "q_embed_near_dup": "embeddings; SRP-LSH, planted output ~constant (base slice only)",
    "q_embed_near_exact": (
        "embeddings; FLAT BY DESIGN: vec_id<300 slice is pushdown-pruned,"
        " so work is constant regardless of corpus size"
    ),
}


def _op_excise_spans(spark, sf_dir: str):
    """Direct bench wrapper for the non-roster production form of
    excise_shared_spans (xxhash64 keys); the noop sink + count
    materialize BOTH output branches, so the victims pin earns its
    keep and the next run's clearCache releases it."""
    from snapflow_spark.catalog import load_table
    from snapflow_spark.operators.dedup_text import excise_shared_spans

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return excise_shared_spans(d, n=8)


def _synth_urls(spark, sf_dir: str):
    """The q_dedup_exact 'url' construction (doc_id-derived cosmetic
    variants) at full corpus width — shared by op_url_dedup."""
    from pyspark.sql import functions as F

    from snapflow_spark.catalog import load_table

    d = load_table(spark, sf_dir, "documents")
    i = F.col("doc_id")
    g = (i % 200).cast("string")
    return d.select(
        "doc_id",
        F.concat(
            F.when(i % 2 == 0, F.lit("HTTPS")).otherwise(F.lit("https")),
            F.lit("://"),
            F.when(i % 3 == 0, F.lit("WWW.")).otherwise(F.lit("")),
            F.lit("Data-"), g,
            F.when((i % 200) % 3 == 0, F.lit(".Example.CO.UK"))
            .when((i % 200) % 3 == 1, F.lit(".example.com"))
            .otherwise(F.lit(".EXAMPLE.org")),
            F.when(i % 4 == 0, F.lit(":443")).otherwise(F.lit("")),
            F.lit("/corpus/item-"), g,
            F.when(i % 5 == 0, F.lit("/")).otherwise(F.lit("")),
            F.when(i % 2 == 0, F.lit("?a=1&b=2&utm_source=feed"))
            .otherwise(F.lit("?b=2&utm_campaign=x&a=1&fbclid=abc")),
            F.when(i % 3 == 0, F.lit("#sec")).otherwise(F.lit("")),
        ).alias("url"),
    )


def _op_url_dedup(spark, sf_dir: str):
    from snapflow_spark.functions.urls import url_dedup

    return url_dedup(_synth_urls(spark, sf_dir))


def _op_html_extract(spark, sf_dir: str):
    from pyspark.sql import functions as F

    from snapflow_spark.catalog import load_table
    from snapflow_spark.functions.html import html_extract

    d = load_table(spark, sf_dir, "documents")
    pages = d.select(
        "doc_id",
        F.lit("https://ex.com/p").alias("target_uri"),
        F.lit("text/html; charset=utf-8").alias("http_content_type"),
        F.encode(
            F.concat(
                F.lit("<html><head><title>doc</title><style>.x{}</style>"
                      "</head><body><h1>t</h1><p>"),
                F.regexp_replace("text", "\n", "</p><p>"),
                F.lit("</p><a href='/next'>more</a></body></html>"),
            ),
            "UTF-8",
        ).alias("http_body"),
    )
    return html_extract(pages).select("doc_id", "title", "text", "links")


def _mix_inputs(spark, sf_dir: str):
    from pyspark.sql import functions as F

    from snapflow_spark.catalog import load_table
    from snapflow_spark.functions.text import token_count_expr

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", token_count_expr("text").cast("long").alias("n_tokens")
    )
    return d


def _op_mix_text(spark, sf_dir: str):
    """Anti-pattern baseline: mix raw text; each epoch branch re-reads
    parquet and re-tokenizes (weights force source 'a' to ~3 epochs)."""
    from pyspark.sql import functions as F

    from snapflow_spark.operators.mixing import mix_corpora

    d = _mix_inputs(spark, sf_dir)
    total = int(d.agg(F.sum("n_tokens")).first()[0])
    return mix_corpora(
        {"a": d.where("doc_id % 2 = 0"), "b": d.where("doc_id % 2 = 1")},
        {"a": 3.0, "b": 1.0},
        2 * total,
    )


def _op_mix_meta(spark, sf_dir: str):
    """Recommended shape: tokenize once into a persisted (id,
    n_tokens) table, mix the metadata, join text back once."""
    from pyspark.sql import functions as F

    from snapflow_spark.catalog import load_table
    from snapflow_spark.operators.mixing import mix_corpora

    meta = _mix_inputs(spark, sf_dir).select("doc_id", "n_tokens").persist()
    total = int(meta.agg(F.sum("n_tokens")).first()[0])  # materializes
    mixed = mix_corpora(
        {"a": meta.where("doc_id % 2 = 0"), "b": meta.where("doc_id % 2 = 1")},
        {"a": 3.0, "b": 1.0},
        2 * total,
    )
    text = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return mixed.join(text, "doc_id")


def _op_gopher_signals(spark, sf_dir: str):
    # ensure_parallelism matters here: the per-doc folds are the work,
    # and a single-file local scan would run them on 1-2 cores
    from snapflow_spark.catalog import ensure_parallelism, load_table
    from snapflow_spark.operators.gopher import gopher_signals

    d = ensure_parallelism(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    return gopher_signals(d)


_LANGID_MODEL = None


def _op_langid_predict(spark, sf_dir: str):
    """Scoring cost only: the model trains ONCE per process on the
    base corpus's lang labels (training is a separate, already
    pytest-covered path) — the 10x row then measures the fused
    featurize+softmax pass."""
    global _LANGID_MODEL
    from snapflow_spark.catalog import load_table
    from snapflow_spark.operators.langid import predict_lang, train_lang_id

    if _LANGID_MODEL is None:
        base = load_table(spark, "/root/testdata/sf0.1", "documents")
        _LANGID_MODEL = train_lang_id(base, iters=10)
    from snapflow_spark.catalog import ensure_parallelism

    d = ensure_parallelism(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    return predict_lang(d, _LANGID_MODEL)


def _op_robots_filter(spark, sf_dir: str):
    from pyspark.sql import functions as F

    from snapflow_spark.functions.robots import (
        filter_robots_disallowed,
        parse_robots_rules,
    )

    urls = _synth_urls(spark, sf_dir)
    hosts = spark.range(200).select(
        F.concat(F.lit("data-"), F.col("id").cast("string"), F.lit(".example.com"))
        .alias("host"),
        F.lit(
            "User-agent: *\nDisallow: /private/\nAllow: /corpus/\n"
            "Disallow: /corpus/item-1*$\nDisallow: /tmp\n"
        ).alias("robots_txt"),
    )
    rules = parse_robots_rules(hosts)
    return filter_robots_disallowed(urls, rules, keep_flag="crawl_ok")


def _op_c4_signals(spark, sf_dir: str):
    from snapflow_spark.catalog import ensure_parallelism, load_table
    from snapflow_spark.operators.c4 import c4_signals

    d = ensure_parallelism(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    return c4_signals(d)


def _op_normalize_clean(spark, sf_dir: str):
    from snapflow_spark.catalog import ensure_parallelism, load_table
    from snapflow_spark.functions.normalize import normalize_text_column

    d = ensure_parallelism(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    return normalize_text_column(d, form="", fix_encoding=False)


def _op_normalize_full(spark, sf_dir: str):
    from snapflow_spark.catalog import ensure_parallelism, load_table
    from snapflow_spark.functions.normalize import normalize_text_column

    d = ensure_parallelism(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    return normalize_text_column(d)


_PDF_TABLES: dict[str, str] = {}


def _op_pdf_extract(spark, sf_dir: str):
    """Extraction cost: per-doc PDFs are synthesized ONCE per sf dir
    (encoder twin over the doc text, 40-line pages) into .scratch —
    the cold run absorbs the build like op_langid_predict absorbs
    training; the warm run measures the parse."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    from snapflow_spark.catalog import ensure_parallelism, load_table
    from snapflow_spark.multimodal.pdf import pdf_extract

    path = _PDF_TABLES.get(sf_dir)
    if path is None:
        path = f".scratch/pdfbench-{abs(hash(sf_dir)) % 10**8}"

        @pandas_udf("binary")
        def to_pdf(texts: pd.Series) -> pd.Series:
            from snapflow_spark.multimodal.pdf import make_pdf_bytes

            def one(t):
                words = (t or "").split()
                lines = [
                    " ".join(words[i : i + 12]) + "."
                    for i in range(0, len(words), 12)
                ]
                pages = [
                    "\n".join(lines[j : j + 40])
                    for j in range(0, max(len(lines), 1), 40)
                ]
                return make_pdf_bytes(pages or ["empty."])

            return texts.map(one)

        d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        d.select("doc_id", to_pdf(F.col("text")).alias("http_body")).write.mode(
            "overwrite"
        ).parquet(path)
        _PDF_TABLES[sf_dir] = path
    pdfs = ensure_parallelism(spark.read.parquet(path))
    return pdf_extract(pdfs).select("doc_id", "text", "n_pages")


_WORDPIECE_TOK = None


def _op_wordpiece_encode(spark, sf_dir: str):
    global _WORDPIECE_TOK
    from snapflow_spark.catalog import ensure_parallelism, load_table

    if _WORDPIECE_TOK is None:
        from snapflow_spark.functions.wordpiece import train_wordpiece

        base = load_table(spark, "/root/testdata/sf0.1", "documents")
        _WORDPIECE_TOK = train_wordpiece(base, num_merges=2000, min_count=2)
    d = ensure_parallelism(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    return d.select(
        "doc_id", _WORDPIECE_TOK.encode_col(spark, "text").alias("pieces")
    )


def _op_profile(spark, sf_dir: str):
    from snapflow_spark.catalog import load_table
    from snapflow_spark.operators.profile import corpus_profile

    return corpus_profile(load_table(spark, sf_dir, "documents"))


_BYTE_BPE_TOK = None


def _op_byte_bpe_encode(spark, sf_dir: str):
    """Encoding cost only: the tokenizer trains ONCE per process on
    the base corpus (training is measured by its own pytest tier);
    the timed op is the map-only Arrow encode pass."""
    global _BYTE_BPE_TOK
    from snapflow_spark.catalog import ensure_parallelism, load_table
    from snapflow_spark.functions.byte_bpe import train_byte_bpe

    if _BYTE_BPE_TOK is None:
        base = load_table(spark, "/root/testdata/sf0.1", "documents")
        _BYTE_BPE_TOK = train_byte_bpe(base, num_merges=2000, min_count=2)
    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    return d.select(
        "doc_id", _BYTE_BPE_TOK.encode_col(spark, "text").alias("toks")
    )


def _op_chunk_text(spark, sf_dir: str):
    from snapflow_spark.catalog import ensure_parallelism, load_table
    from snapflow_spark.operators.curation import chunk_text

    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    return chunk_text(d, max_tokens=64, overlap=8)


def _op_d4(spark, sf_dir: str):
    from snapflow_spark.catalog import load_table
    from snapflow_spark.operators.similarity import d4_select

    # target_cell_size (round 10) derives k_cells from the corpus
    # count, so the 10x corpus gets 10x the cells and the in-cell
    # quadratic stays flat — the fixed-k_cells form measured 3.13x
    # at 10x (round 9) because cells crossed cell_max_bucket. 125 =
    # the r9 base geometry (2000 rows / 16 cells), so base cost is
    # comparable round-over-round and only the scaling law changes.
    return d4_select(
        load_table(spark, sf_dir, "embeddings"),
        cos_threshold=0.95,
        drop_frac=0.2,
        target_cell_size=125,
    )


_KN_LM = None


def _op_kn_score(spark, sf_dir: str):
    """KN perplexity scoring at corpus scale; the order-3 model is
    trained ONCE on the base corpus (module cache, the
    op_byte_bpe_encode convention) so both scales score under the
    same model — exactly the CCNet deployment shape (LM trained on a
    bounded trusted slice, scoring the whole crawl)."""
    global _KN_LM
    from snapflow_spark.catalog import ensure_parallelism, load_table
    from snapflow_spark.functions.kn_lm import train_kn_ngram

    if _KN_LM is None:
        base = load_table(spark, "/root/testdata/sf0.1", "documents")
        _KN_LM = train_kn_ngram(base, order=3, min_word_count=2)
    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    return _KN_LM.score(d)


def _op_embed_model(spark, sf_dir: str):
    """The embed hook's scale row: the stand-in encoder embeds the
    whole corpus through the scalar-UDF map-only stage.  doc_id rides
    along as the pass-through column; text is the only column that
    crosses the python boundary (scalar pandas UDF ships just its
    argument), which is the claim this row measures."""
    from snapflow_spark.catalog import ensure_parallelism, load_table
    from snapflow_spark.functions.embed import embed_with_model

    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    return embed_with_model(
        d.select("doc_id", "text"),
        "snapflow_spark.functions.embed:stub_embed_batch",
        dim=32,
        batch_size=512,
    )


_LEDGER_ENVS: dict = {}


def _op_ledger_commit(spark, sf_dir: str):
    """Commit-path scale row: FIRST call per sf_dir synthesizes the
    standing history (H = n_docs/50 ledger commits, checkpointed +
    vacuumed, and H committed snapshot dirs — cold absorbs it, the
    op_dedup_incremental convention); every call then runs the
    steady state: 30 append+mark cycles plus one checkpoint+vacuum
    compaction, returning a 1-row audit DataFrame so the noop-sink
    protocol has something to materialize."""
    import shutil

    from snapflow_spark.catalog import load_table
    from snapflow_spark.incremental.store import SnapshotStore
    from snapflow_spark.incremental.table_ledger import TableLedger

    env = _LEDGER_ENVS.get(sf_dir)
    if env is None:
        h = max(
            load_table(spark, sf_dir, "documents").count() // 50, 10
        )
        root = Path(".scratch") / f"ledger_{h}"
        shutil.rmtree(root, ignore_errors=True)
        store = SnapshotStore(root / "store")
        first = store.append(spark.range(1).toDF("v"))
        src = store.path / first
        for i in range(1, h):  # synthesized committed history dirs
            shutil.copytree(src, store.path / f"snapshot-{i:06d}")
        ledger = TableLedger(root / "ledger")
        for i in range(h):
            ledger.mark_consumed("node", "input", [f"snapshot-{i:06d}"])
            if (i + 1) % 200 == 0:
                ledger.vacuum()
        ledger.checkpoint()
        ledger.vacuum()
        env = _LEDGER_ENVS[sf_dir] = (store, ledger, h)
    store, ledger, h = env
    delta = spark.range(1).toDF("v")
    for _ in range(30):
        sid = store.append(delta)
        ledger.mark_consumed("node", "input", [sid])
    ledger.checkpoint()
    ledger.vacuum()
    n = len(ledger.consumed("node", "input"))
    return spark.createDataFrame(
        [(h, n, len(store.snapshot_ids()))],
        "history int, consumed int, snapshots int",
    )


_INC_STORES: dict = {}


def _op_dedup_incremental(spark, sf_dir: str):
    """Standing-history incremental near-dedup: history import happens
    on FIRST call per sf_dir (the cold run absorbs it, matching the
    one-time-cost convention op_byte_bpe_encode established); every
    call then dedups the same deterministic 1000-doc batch — half
    genuine near-dups of corpus docs (dropped via the history band
    join), half novel (committed).  Artifacts accumulate across calls
    by a bounded ~1000 rows/run — negligible against the corpus-scale
    history and irrelevant to the base-vs-scaled ratio."""
    import tempfile

    from pyspark.sql import functions as F

    from snapflow_spark.catalog import load_table
    from snapflow_spark.incremental.store import SnapshotStore
    from snapflow_spark.operators.dedup_incremental import (
        incremental_minhash_dedup,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    if sf_dir not in _INC_STORES:
        root = tempfile.mkdtemp(prefix="incdedup_")
        sig = SnapshotStore(f"{root}/sigs")
        band = SnapshotStore(f"{root}/bands")
        # one-time history import: the whole corpus becomes standing
        # artifacts (this call is what the cold run pays for)
        incremental_minhash_dedup(spark, d, sig, band)
        _INC_STORES[sf_dir] = (sig, band)
    sig, band = _INC_STORES[sf_dir]
    batch = (
        d.where(F.col("doc_id") % 97 < 19)
        .limit(1000)
        .select(
            (F.col("doc_id") + 10_000_000).alias("doc_id"),
            # half the batch keeps corpus text verbatim (history
            # near-dups -> dropped), half gets a novel prefix
            F.when(
                F.col("doc_id") % 2 == 0, F.col("text")
            ).otherwise(F.concat(F.lit("novel batch doc "), F.col("text"))).alias("text"),
        )
    )
    return incremental_minhash_dedup(spark, batch, sig, band)


_DELTA_DV_TABLES: dict = {}


def _op_delta_dv_read(spark, sf_dir: str):
    """Standing Delta table + deletion-vector read (round 13): the
    corpus exports once per sf_dir (cold absorbs it — write_delta's
    executor-side stats job included), then a commit re-adds the
    first data file with a 500-row DV; every call reads with a
    min_max_filter pinned to that file's doc_id range.  File-list
    pruning happens driver-side on log metadata and the DV applies as
    a broadcast anti-join on _metadata.row_index, so warm cost tracks
    ONE file + 500 deleted rows regardless of corpus size."""
    import tempfile

    from snapflow_spark.catalog import load_table
    from snapflow_spark.sources.delta import (
        delta_snapshot,
        read_delta,
        write_delta,
    )
    from snapflow_spark.sources.deletion_vectors import write_dv_file

    if sf_dir not in _DELTA_DV_TABLES:
        path = tempfile.mkdtemp(prefix="delta_dv_") + "/tbl"
        d = load_table(spark, sf_dir, "documents").select(
            "doc_id", "text", "lang"
        )
        write_delta(d, path)
        snap = delta_snapshot(spark, path)
        rel, pv, sz, st = snap.files[0]
        desc = write_dv_file(path, range(500))
        add = {
            "path": rel,
            "partitionValues": pv,
            "size": sz,
            "modificationTime": 0,
            "dataChange": True,
            "deletionVector": desc,
        }
        if st:
            add["stats"] = json.dumps(st)
        log = Path(path) / "_delta_log"
        (log / f"{1:020d}.json").write_text(
            json.dumps({"add": add}) + "\n"
        )
        lo = st["minValues"]["doc_id"] if st else 0
        _DELTA_DV_TABLES[sf_dir] = (path, lo)
    path, lo = _DELTA_DV_TABLES[sf_dir]
    # a zero-width range probe: only files whose stats contain `lo`
    # survive the driver-side skip — one file at any corpus size
    return read_delta(spark, path, min_max_filter={"doc_id": (lo, lo)})


_DELTA_DELETE_TABLES: dict = {}


def _op_delta_delete(spark, sf_dir: str):
    """Standing Delta table + DV-writing row-level DELETE (round
    14): the corpus exports once per sf_dir (cold absorbs it), then
    every call deletes a FRESH 500-key doc_id range with a
    min_max_filter pinned to it — file pruning from log stats, the
    matched-index collect and the DV sidecar both O(deleted), so the
    warm cost tracks the touched file(s), not the corpus."""
    import tempfile

    from pyspark.sql import functions as F

    from snapflow_spark.catalog import load_table
    from snapflow_spark.sources.delta import (
        delete_from_delta,
        write_delta,
    )

    if sf_dir not in _DELTA_DELETE_TABLES:
        path = tempfile.mkdtemp(prefix="delta_del_") + "/tbl"
        d = load_table(spark, sf_dir, "documents").select(
            "doc_id", "text", "lang"
        )
        write_delta(d, path)
        lo = d.agg(F.min("doc_id")).collect()[0][0]
        _DELTA_DELETE_TABLES[sf_dir] = [path, int(lo)]
    ent = _DELTA_DELETE_TABLES[sf_dir]
    path, lo = ent
    hi = lo + 499
    ent[1] = hi + 1  # next call deletes the NEXT range
    n = delete_from_delta(
        spark,
        path,
        f"doc_id BETWEEN {lo} AND {hi}",
        min_max_filter={"doc_id": (lo, hi)},
    )
    return spark.createDataFrame([(n,)], "n_deleted bigint")


_DELTA_MERGE_TABLES: dict = {}


def _op_delta_merge(spark, sf_dir: str):
    """Standing Delta table + MERGE of a fresh 500-key changelog
    (round 15): the corpus exports once per sf_dir (cold absorbs
    it), then every call upserts updates over the NEXT doc_id range
    — the key bounds from the staged changelog's stats keep the scan
    on the touched file(s), so the warm cost tracks the changelog,
    not the corpus."""
    import tempfile

    from pyspark.sql import functions as F

    from snapflow_spark.catalog import load_table
    from snapflow_spark.sources.delta import merge_delta, write_delta

    if sf_dir not in _DELTA_MERGE_TABLES:
        path = tempfile.mkdtemp(prefix="delta_merge_") + "/tbl"
        d = load_table(spark, sf_dir, "documents").select(
            "doc_id", "text", "lang"
        )
        write_delta(d, path)
        lo = d.agg(F.min("doc_id")).collect()[0][0]
        _DELTA_MERGE_TABLES[sf_dir] = [path, int(lo)]
    ent = _DELTA_MERGE_TABLES[sf_dir]
    path, lo = ent
    hi = lo + 499
    ent[1] = hi + 1  # next call merges the NEXT range
    changelog = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id").between(lo, hi))
        .select("doc_id", F.upper("text").alias("text"), "lang")
    )
    res = merge_delta(spark, path, changelog, on=["doc_id"])
    return spark.createDataFrame(
        [(res["rows_matched"], res["rows_inserted"])],
        "rows_matched bigint, rows_inserted bigint",
    )


_ICEBERG_UPSERT_TABLES: dict = {}


def _op_iceberg_upsert(spark, sf_dir: str):
    """Standing Iceberg table + upsert of a fresh 500-key changelog
    (round 15): O(keys + new rows) per call — an equality-delete
    file and the replacement data files land at the same sequence in
    one snapshot, no table scan — so the warm cost is independent of
    the standing corpus size."""
    import tempfile

    from pyspark.sql import functions as F

    from snapflow_spark.catalog import load_table
    from snapflow_spark.sources.iceberg import (
        upsert_iceberg,
        write_iceberg,
    )

    if sf_dir not in _ICEBERG_UPSERT_TABLES:
        path = tempfile.mkdtemp(prefix="iceberg_upsert_") + "/tbl"
        d = load_table(spark, sf_dir, "documents").select(
            "doc_id", "text", "lang"
        )
        write_iceberg(d, path)
        lo = d.agg(F.min("doc_id")).collect()[0][0]
        _ICEBERG_UPSERT_TABLES[sf_dir] = [path, int(lo)]
    ent = _ICEBERG_UPSERT_TABLES[sf_dir]
    path, lo = ent
    hi = lo + 499
    ent[1] = hi + 1
    changelog = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id").between(lo, hi))
        .select("doc_id", F.upper("text").alias("text"), "lang")
    )
    res = upsert_iceberg(spark, path, changelog, keys=["doc_id"])
    return spark.createDataFrame(
        [(res["keys"], res["rows"])], "keys bigint, rows bigint"
    )


_ICEBERG_BUCKET_TABLES: dict = {}


def _op_iceberg_bucket_upsert(spark, sf_dir: str):
    """Standing BUCKET-partitioned Iceberg table + upsert of a fresh
    500-key changelog per call (round 16): the write-side partition
    transform stage (numpy-murmur3 Arrow bucket[8]) runs only over
    the CHANGELOG rows, the equality-delete keys range-split above
    the threshold, and no table scan happens — warm should stay
    ~flat as the standing corpus grows 10x, same as the identity
    upsert row next to it."""
    import tempfile

    from pyspark.sql import functions as F

    from snapflow_spark.catalog import load_table
    from snapflow_spark.sources.iceberg import (
        upsert_iceberg,
        write_iceberg,
    )

    if sf_dir not in _ICEBERG_BUCKET_TABLES:
        path = tempfile.mkdtemp(prefix="iceberg_bk_") + "/tbl"
        d = load_table(spark, sf_dir, "documents").select(
            "doc_id", "text", "lang"
        )
        write_iceberg(
            d, path, partition_by=[("doc_id", "bucket[8]")]
        )
        lo = d.agg(F.min("doc_id")).collect()[0][0]
        _ICEBERG_BUCKET_TABLES[sf_dir] = [path, int(lo)]
    ent = _ICEBERG_BUCKET_TABLES[sf_dir]
    path, lo = ent
    hi = lo + 499
    ent[1] = hi + 1
    changelog = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id").between(lo, hi))
        .select("doc_id", F.upper("text").alias("text"), "lang")
    )
    res = upsert_iceberg(spark, path, changelog, keys=["doc_id"])
    return spark.createDataFrame(
        [(res["keys"], res["rows"])], "keys bigint, rows bigint"
    )


_ICEBERG_UPDATE_TABLES: dict = {}


def _op_iceberg_update(spark, sf_dir: str):
    """Standing Iceberg table + merge-on-read UPDATE of a fresh
    500-key range per call (round 15): the matcher scan + the
    position-delete write + the rewritten-row staging all land in
    one snapshot; the scan side is the corpus-bound cost."""
    import tempfile

    from pyspark.sql import functions as F

    from snapflow_spark.catalog import load_table
    from snapflow_spark.sources.iceberg import (
        update_iceberg,
        write_iceberg,
    )

    if sf_dir not in _ICEBERG_UPDATE_TABLES:
        path = tempfile.mkdtemp(prefix="iceberg_upd_") + "/tbl"
        d = load_table(spark, sf_dir, "documents").select(
            "doc_id", "text", "lang"
        )
        write_iceberg(d, path)
        lo = d.agg(F.min("doc_id")).collect()[0][0]
        _ICEBERG_UPDATE_TABLES[sf_dir] = [path, int(lo)]
    ent = _ICEBERG_UPDATE_TABLES[sf_dir]
    path, lo = ent
    hi = lo + 499
    ent[1] = hi + 1
    n = update_iceberg(
        spark,
        path,
        f"doc_id BETWEEN {lo} AND {hi}",
        {"lang": "'xx'"},
    )
    return spark.createDataFrame([(n,)], "n_updated bigint")


_IVFPQ_PATHS: dict = {}


def _op_ivfpq_append(spark, sf_dir: str):
    """Delta ingest into a SAVED standing IVF-PQ index: build+save on
    first call per sf_dir (cold absorbs it), then every call appends
    the same 200-vector delta via append_to_saved — which loads only
    the centroid/codebook tables, so the warm cost is the delta's
    assign+encode+partitioned append-write, independent of how big
    the standing coded corpus is.  Returns the delta's coded rows for
    the harness's row count (append_to_saved itself returns None)."""
    import tempfile

    from pyspark.sql import functions as F

    from snapflow_spark.catalog import load_table
    from snapflow_spark.operators.similarity import IVFPQIndex

    emb = load_table(spark, sf_dir, "embeddings")
    if sf_dir not in _IVFPQ_PATHS:
        path = tempfile.mkdtemp(prefix="ivfpq_idx_") + "/idx"
        idx = IVFPQIndex.build(emb, target_cell_size=125, m=8)
        idx.save(path)
        _IVFPQ_PATHS[sf_dir] = path
    path = _IVFPQ_PATHS[sf_dir]
    # pushdown-pruned constant slice — an orderBy().limit() here would
    # TakeOrdered over the whole corpus and scale the DELTA derivation
    # with corpus size, polluting the append-cost claim
    delta = emb.where(F.col("vec_id") < 200).select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"), "embedding"
    )
    IVFPQIndex.append_to_saved(spark, path, delta)
    # the measured work happened above; expose the delta rows so
    # run_once's noop sink + count have a stable, tiny DataFrame
    return delta


def run_once(spark, fn, sf_dir: str) -> tuple[float, int]:
    """Materialize through the same noop-sink protocol bench.py uses.

    ``count()`` would let Catalyst prune deterministic projected
    columns the query declares (an aggregate-pushdown count measures
    less work than the query does); the noop sink executes the full
    physical plan. The fn() call itself stays INSIDE the timer —
    several queries do eager work there (incremental ticks, IVF
    quantizer build, bucketed-layout refresh) that is part of the
    query's cost. The sanity-check row count runs after the clock
    stops."""
    spark.catalog.clearCache()
    t0 = time.time()
    df = fn(spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    elapsed = time.time() - t0
    return elapsed, df.count()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", default="/root/testdata/sf0.1")
    ap.add_argument("--scaled", default=".scratch/sf1")
    ap.add_argument("--factor", type=int, default=10)
    ap.add_argument("--out", default="SCALE_BENCH.json")
    ap.add_argument(
        "--standing-only",
        action="store_true",
        help="re-run only the standing-index section, merging into --out",
    )
    ap.add_argument(
        "--only",
        default=None,
        help="comma-separated HEAVY row names: run just these and MERGE "
        "their rows into an existing --out (for adding a new op's row "
        "without re-measuring the whole table)",
    )
    args = ap.parse_args()

    spark = build_session("bench-scale")
    queries = dict(all_queries())
    queries["op_excise_spans"] = _op_excise_spans
    queries["op_url_dedup"] = _op_url_dedup
    queries["op_html_extract"] = _op_html_extract
    queries["op_mix_text"] = _op_mix_text
    queries["op_mix_meta"] = _op_mix_meta
    queries["op_gopher_signals"] = _op_gopher_signals
    queries["op_langid_predict"] = _op_langid_predict
    queries["op_robots_filter"] = _op_robots_filter
    queries["op_c4_signals"] = _op_c4_signals
    queries["op_normalize_clean"] = _op_normalize_clean
    queries["op_normalize_full"] = _op_normalize_full
    queries["op_pdf_extract"] = _op_pdf_extract
    queries["op_wordpiece_encode"] = _op_wordpiece_encode
    queries["op_profile"] = _op_profile
    queries["op_byte_bpe_encode"] = _op_byte_bpe_encode
    queries["op_chunk_text"] = _op_chunk_text
    queries["op_d4"] = _op_d4
    queries["op_kn_score"] = _op_kn_score
    queries["op_embed_model"] = _op_embed_model
    queries["op_ledger_commit"] = _op_ledger_commit
    queries["op_dedup_incremental"] = _op_dedup_incremental
    queries["op_ivfpq_append"] = _op_ivfpq_append
    queries["op_delta_dv_read"] = _op_delta_dv_read
    queries["op_delta_delete"] = _op_delta_delete
    queries["op_delta_merge"] = _op_delta_merge
    queries["op_iceberg_upsert"] = _op_iceberg_upsert
    queries["op_iceberg_update"] = _op_iceberg_update
    queries["op_iceberg_bucket_upsert"] = _op_iceberg_bucket_upsert

    if args.standing_only:
        standing = standing_index_bench(spark, args.base, args.scaled)
        doc = json.loads(Path(args.out).read_text()) if Path(args.out).exists() else {}
        doc["standing_index"] = standing
        Path(args.out).write_text(json.dumps(doc, indent=2) + "\n")
        print(f"wrote {args.out} (standing only)", flush=True)
        return

    # Warm the session before timing anything: JVM codegen paths and
    # the 32 Python UDF workers cost ~5-20 s on first touch, and
    # without this the FIRST (query, sf) pair absorbs it, skewing the
    # base-vs-scaled ratio for whichever query runs first.
    for sf_dir in (args.base, args.scaled):
        run_once(spark, queries["q_tokenize_bpe"], sf_dir)

    heavy = HEAVY
    if args.only:
        wanted = [n.strip() for n in args.only.split(",") if n.strip()]
        unknown = [n for n in wanted if n not in HEAVY]
        if unknown:
            raise SystemExit(f"--only names not in HEAVY: {unknown}")
        heavy = {n: HEAVY[n] for n in wanted}

    results: dict[str, dict] = {}
    for name, note in heavy.items():
        fn = queries[name]
        row: dict = {"note": note}
        for key, sf_dir in (("base", args.base), ("scaled", args.scaled)):
            cold, n = run_once(spark, fn, sf_dir)
            warm, _ = run_once(spark, fn, sf_dir)
            row[f"{key}_cold_sec"] = round(cold, 3)
            row[f"{key}_warm_sec"] = round(warm, 3)
            row[f"{key}_rows"] = n
        row["ratio_cold"] = round(row["scaled_cold_sec"] / row["base_cold_sec"], 2)
        row["ratio_warm"] = round(row["scaled_warm_sec"] / row["base_warm_sec"], 2)
        results[name] = row
        print(
            f"{name:28s} base {row['base_cold_sec']:7.2f}s "
            f"scaled {row['scaled_cold_sec']:7.2f}s "
            f"ratio {row['ratio_cold']:5.2f} (warm {row['ratio_warm']:5.2f}) "
            f"rows {row['base_rows']} -> {row['scaled_rows']}",
            flush=True,
        )

    if args.only:
        doc = json.loads(Path(args.out).read_text()) if Path(args.out).exists() else {
            "metric": "scale_ratio_heavy_tail",
            "factor": args.factor,
            "base": args.base,
            "scaled": args.scaled,
            "queries": {},
        }
        doc.setdefault("queries", {}).update(results)
        Path(args.out).write_text(json.dumps(doc, indent=2) + "\n")
        print(f"wrote {args.out} (merged {list(results)})", flush=True)
        return

    standing = standing_index_bench(spark, args.base, args.scaled)

    doc = {
        "metric": "scale_ratio_heavy_tail",
        "factor": args.factor,
        "base": args.base,
        "scaled": args.scaled,
        "queries": results,
        "standing_index": standing,
    }
    Path(args.out).write_text(json.dumps(doc, indent=2) + "\n")
    print(f"wrote {args.out}", flush=True)


def standing_index_bench(spark, base: str, scaled: str) -> dict:
    """The AMORTIZED-index story (round 5): pay the build once, search
    the persisted structure many times. For each corpus size this
    times (a) the ad-hoc search that builds in-plan (BM25 only), (b)
    the one-time index build+save, (c) the search against the STORED
    structure — the number a standing deployment actually pays per
    query. The scaled/base ratio of (c) is the scale claim: BM25
    searches stay candidate-bound (no tokenize, no build) and IVF-PQ
    searches scan only pruned cells' m-byte codes."""
    from snapflow_spark.catalog import load_table
    from snapflow_spark.operators.retrieval import (
        bm25_topk,
        bm25_topk_indexed,
        build_postings_index,
    )
    from snapflow_spark.operators.similarity import IVFPQIndex

    from pyspark.sql import functions as F

    def timed(fn, reps: int = 3):
        """min of ``reps`` warm materializations — searches here are
        1-2 s absolute, where single-shot wall-clock swings 2x under
        host contention; the min is the robust statistic for the
        'how much work does a search do' question."""
        best = None
        for _ in range(reps):
            spark.catalog.clearCache()
            t0 = time.time()
            fn().write.format("noop").mode("overwrite").save()
            best = min(best or 1e9, time.time() - t0)
        return round(best, 3)

    qdf = spark.createDataFrame(
        [(1, "join hash scan"), (2, "customer filter merge")],
        "query_id bigint, query_text string",
    )
    out: dict[str, dict] = {"bm25": {}, "ivfpq": {}}
    for key, sf_dir in (("base", base), ("scaled", scaled)):
        d = load_table(spark, sf_dir, "documents")
        table = f"bm25_scale_{key}"
        # warm each path once, report the second run
        timed(lambda: bm25_topk(d, qdf, k=10))
        adhoc = timed(lambda: bm25_topk(d, qdf, k=10))
        t0 = time.time()
        build_postings_index(d, table, n_buckets=16)
        build_s = round(time.time() - t0, 3)
        timed(lambda: bm25_topk_indexed(spark, table, qdf, k=10))
        indexed = timed(lambda: bm25_topk_indexed(spark, table, qdf, k=10))
        out["bm25"][key] = {
            "adhoc_search_sec": adhoc,
            "index_build_sec": build_s,
            "indexed_search_sec": indexed,
        }

        emb = load_table(spark, sf_dir, "embeddings")
        probes = emb.where(F.col("vec_id").isin(0, 1, 2)).select(
            F.col("vec_id").alias("probe_id"), "embedding"
        )
        t0 = time.time()
        idx = IVFPQIndex.build(emb, k_cells=16, m=4, n_codes=32)
        path = f".scratch/ivfpq_scale_{key}"
        idx.save(path)
        build_s = round(time.time() - t0, 3)
        loaded = IVFPQIndex.load(spark, path)
        timed(lambda: loaded.search(probes, k=5, nprobe=4))
        stored = timed(lambda: loaded.search(probes, k=5, nprobe=4))
        out["ivfpq"][key] = {
            "index_build_save_sec": build_s,
            "stored_code_search_sec": stored,
        }
    for fam, metric in (
        ("bm25", "indexed_search_sec"),
        ("ivfpq", "stored_code_search_sec"),
    ):
        b, s = out[fam]["base"][metric], out[fam]["scaled"][metric]
        out[fam]["search_ratio"] = round(s / b, 2) if b else None
        print(
            f"standing {fam:6s} base search {b:6.2f}s scaled {s:6.2f}s "
            f"ratio {out[fam]['search_ratio']}",
            flush=True,
        )
    return out


if __name__ == "__main__":
    main()
