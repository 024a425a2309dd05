"""CLI entry point — snapflow's ``snapflow run ...`` analogue
(SURVEY.md §3.1 EP3 [P snapflow/cli/]).

    python -m snapflow_spark list
    python -m snapflow_spark run q_agg_basic [--sf DIR] [--limit N] [--explain]
    python -m snapflow_spark schema q_agg_basic

``run`` executes a declared query and prints rows; ``--explain`` prints
the formatted physical plan instead (the plan-quality workflow).
"""

from __future__ import annotations

import argparse
import sys


def main(argv: list[str] | None = None) -> int:
    from snapflow_spark.catalog import DEFAULT_SF_DIR

    ap = argparse.ArgumentParser(prog="snapflow_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)
    sub.add_parser("list", help="list declared queries")
    run = sub.add_parser("run", help="run a declared query")
    run.add_argument("name")
    run.add_argument("--sf", default=DEFAULT_SF_DIR)
    run.add_argument("--limit", type=int, default=20)
    run.add_argument("--explain", action="store_true")
    sch = sub.add_parser("schema", help="show a query's result schema")
    sch.add_argument("name")
    sch.add_argument("--sf", default=DEFAULT_SF_DIR)
    prod = sub.add_parser(
        "produce", help="run a YAML pipeline file to its reactive fixed point (EP3)"
    )
    prod.add_argument("pipeline", help="path to pipeline.yaml")
    prod.add_argument("--warehouse", default=None, help="override the file's warehouse")
    prod.add_argument("--show", default=None, help="node/store to print after the run")
    prod.add_argument("--limit", type=int, default=20)
    sql = sub.add_parser(
        "sql", help="run ad-hoc SQL over the catalog tables (the SQL-snap surface)"
    )
    sql.add_argument("text", help="SQL; catalog tables are registered as views")
    sql.add_argument("--sf", default=DEFAULT_SF_DIR)
    sql.add_argument("--limit", type=int, default=20)
    sql.add_argument("--explain", action="store_true")
    tb = sub.add_parser(
        "train-bpe",
        help="train a BPE tokenizer on the documents table, save tokenizer.json",
    )
    tb.add_argument("out", help="output path for the tokenizer artifact (JSON)")
    tb.add_argument("--sf", default=DEFAULT_SF_DIR)
    tb.add_argument("--merges", type=int, default=4000)
    tb.add_argument("--min-count", type=int, default=1)
    tb.add_argument("--max-word-types", type=int, default=1_000_000)
    tbb = sub.add_parser(
        "train-byte-bpe",
        help="train a byte-level BPE tokenizer (GPT-2 recipe: 256-byte "
        "base alphabet, no OOV possible) on the documents table",
    )
    tbb.add_argument("out", help="output path for the tokenizer artifact (JSON)")
    tbb.add_argument("--sf", default=DEFAULT_SF_DIR)
    tbb.add_argument("--merges", type=int, default=4000)
    tbb.add_argument("--min-count", type=int, default=1)
    tbb.add_argument("--max-word-types", type=int, default=1_000_000)
    tu = sub.add_parser(
        "train-unigram",
        help="train a unigram-LM (SentencePiece-style) tokenizer on the "
        "documents table, save tokenizer.json",
    )
    tu.add_argument("out", help="output path for the tokenizer artifact (JSON)")
    tu.add_argument("--sf", default=DEFAULT_SF_DIR)
    tu.add_argument("--vocab-size", type=int, default=8000)
    tu.add_argument("--min-count", type=int, default=1)
    tu.add_argument("--max-word-types", type=int, default=1_000_000)
    tu.add_argument("--max-piece-len", type=int, default=8)
    tu.add_argument("--seed-size", type=int, default=100_000)
    tw = sub.add_parser(
        "train-wordpiece",
        help="train a WordPiece (BERT-style) tokenizer on the documents "
        "table, save tokenizer.json",
    )
    tw.add_argument("out", help="output path for the tokenizer artifact (JSON)")
    tw.add_argument("--sf", default=DEFAULT_SF_DIR)
    tw.add_argument("--merges", type=int, default=4000)
    tw.add_argument("--min-count", type=int, default=1)
    tw.add_argument("--max-word-types", type=int, default=1_000_000)
    tk = sub.add_parser(
        "train-kn-lm",
        help="train the interpolated Kneser-Ney bigram LM (CCNet's "
        "perplexity-filter recipe) on the documents table, save JSON",
    )
    tk.add_argument("out", help="output path for the LM artifact (JSON)")
    tk.add_argument("--sf", default=DEFAULT_SF_DIR)
    tk.add_argument(
        "--where", default=None,
        help="SQL predicate picking the TRUSTED reference rows "
        "(e.g. \"lang = 'en'\"); default: the whole table",
    )
    tk.add_argument("--min-word-count", type=int, default=1)
    tk.add_argument("--max-vocab", type=int, default=None)
    tk.add_argument(
        "--modified", action="store_true",
        help="modified KN (KenLM's default: three count-conditioned "
        "discounts per level) instead of single-discount interpolated",
    )
    tk.add_argument(
        "--min-gram-count", type=int, default=1,
        help="order 3+: drop n-gram TYPES below this count before the "
        "driver collect (KenLM --prune)",
    )
    tk.add_argument(
        "--order", type=int, default=2,
        help="n-gram order (2 = the bigram model; 3+ = the general "
        "continuation-count backoff chain, always modified)",
    )
    ts = sub.add_parser(
        "tokenizer-stats",
        help="compression/coverage metrics for a trained tokenizer "
        "artifact over the documents table (optionally per group)",
    )
    ts.add_argument("artifact", help="tokenizer JSON (BPE or unigram)")
    ts.add_argument("--sf", default=DEFAULT_SF_DIR)
    ts.add_argument("--by", default=None, help="group column, e.g. lang")
    ws = sub.add_parser(
        "warc-stats",
        help="triage a WARC/WET path: per-type record counts, payload "
        "bytes, torn-tail and oversize tallies — no decode",
    )
    ws.add_argument("path", help="warc file, directory, or glob")
    ws.add_argument(
        "--truncated", default="stop", choices=("stop", "fail"),
        help="torn-tail policy (default stop: salvage the clean prefix)",
    )
    tq = sub.add_parser(
        "train-quality",
        help="train the LR quality classifier on the documents table "
        "(positives via a SQL predicate), save the model JSON",
    )
    tq.add_argument("out", help="output path for the model artifact (JSON)")
    tq.add_argument(
        "--positive-where",
        default="lang = 'en'",
        help="SQL boolean over documents defining the positive class",
    )
    tq.add_argument("--sf", default=DEFAULT_SF_DIR)
    tq.add_argument("--buckets", type=int, default=4096)
    tq.add_argument("--iters", type=int, default=30)
    tl = sub.add_parser(
        "train-langid",
        help="train the char-n-gram language-id model on the documents "
        "table (labels from --label-col), save the model JSON",
    )
    tl.add_argument("out", help="output path for the model artifact (JSON)")
    tl.add_argument("--sf", default=DEFAULT_SF_DIR)
    tl.add_argument("--label-col", default="lang")
    tl.add_argument("--buckets", type=int, default=4096)
    tl.add_argument("--iters", type=int, default=40)
    pf = sub.add_parser(
        "profile",
        help="corpus data card over a parquet path (counts, token/char "
        "quantiles, dup_rate, mean quality) — one JSON line per group",
    )
    pf.add_argument("path", help="parquet file/dir with a text column")
    pf.add_argument("--text-col", default="text")
    pf.add_argument("--by", default="", help="comma-separated group columns")
    tm = sub.add_parser(
        "table",
        help="table maintenance over a Delta/Iceberg layout: "
        "vacuum|optimize|checkpoint|delete|update|restore|upsert "
        "(delta), expire|rewrite|rollback|tag|orphans|update|upsert "
        "(iceberg) — the format is detected from the table directory",
    )
    tm.add_argument(
        "op",
        choices=[
            "vacuum", "optimize", "checkpoint", "delete", "restore",
            "expire", "rewrite", "rollback", "tag", "orphans",
            "upsert", "update", "history", "clean-log", "inspect",
            "set-props", "rename-column", "drop-column",
            "rewrite-manifests", "publish",
        ],
    )
    tm.add_argument("path", help="table root directory")
    tm.add_argument("--where", help="SQL predicate (delete)")
    tm.add_argument("--version", type=int, help="target (restore)")
    tm.add_argument("--snapshot-id", type=int,
                    help="target (rollback/tag)")
    tm.add_argument("--name", help="ref name (tag)")
    tm.add_argument("--keep-last", type=int, default=1,
                    help="snapshots kept (expire)")
    tm.add_argument("--retention-hours", type=float, default=168.0)
    tm.add_argument("--dry-run", action="store_true")
    tm.add_argument("--target-mb", type=int, default=128,
                    help="file-size target (optimize/rewrite)")
    tm.add_argument("--source",
                    help="parquet path of the changelog rows (upsert)")
    tm.add_argument("--keys",
                    help="comma-separated key columns (upsert)")
    tm.add_argument("--set", dest="set_", metavar="JSON",
                    help='{"col": "sql expr"} assignments (update)')
    tm.add_argument("--kind", default="snapshots",
                    help="metadata table kind (inspect, iceberg): "
                    "snapshots|history|refs|manifests|files|entries|"
                    "partitions|all_files")
    tm.add_argument("--v2", action="store_true",
                    help="sidecar-form v2 checkpoint (checkpoint)")
    tm.add_argument("--props", metavar="JSON",
                    help='{"key": "value"|null} properties to '
                    "set/unset (set-props, delta)")
    tm.add_argument("--zorder",
                    help="comma-separated 2-3 key columns for the "
                    "clustering rewrite (optimize, delta)")
    tm.add_argument("--column", help="column (rename-column from / "
                    "drop-column target, delta)")
    tm.add_argument("--to", dest="to_", help="new name (rename-column)")
    tm.add_argument("--from-ref", dest="from_ref",
                    help="branch to fast-forward publish (publish, "
                    "iceberg)")
    args = ap.parse_args(argv)

    if args.cmd == "table":
        return _table_maintenance(args)

    if args.cmd == "profile":
        import json as _json

        from snapflow_spark.operators.profile import corpus_profile
        from snapflow_spark.session import build_session, tune

        spark = build_session("cli-profile")
        spark.sparkContext.setLogLevel("ERROR")
        tune(spark)
        group = [c.strip() for c in args.by.split(",") if c.strip()]
        card = corpus_profile(
            spark.read.parquet(args.path),
            text_col=args.text_col,
            by=group or None,
        )
        for row in card.collect():
            print(_json.dumps(row.asDict(), sort_keys=True, default=str))
        return 0

    if args.cmd == "warc-stats":
        from pyspark.sql import functions as F

        from snapflow_spark.session import build_session, tune
        from snapflow_spark.sources.warc import read_warc

        spark = build_session("cli-warc-stats")
        spark.sparkContext.setLogLevel("ERROR")
        tune(spark)
        df = read_warc(spark, args.path, truncated=args.truncated)
        stats = (
            df.groupBy("warc_type")
            .agg(
                F.count(F.lit(1)).alias("records"),
                F.sum("content_length").alias("payload_bytes"),
                F.countDistinct("warc_file").alias("files"),
            )
            .orderBy(F.desc("records"))
        )
        stats.show(50, truncate=False)
        totals = df.agg(
            F.count(F.lit(1)).alias("records"),
            F.sum("content_length").alias("payload_bytes"),
            F.countDistinct("warc_file").alias("files"),
        ).first()
        print(
            f"total: {totals.records} records, {totals.payload_bytes} "
            f"payload bytes across {totals.files} file(s)"
        )
        return 0

    if args.cmd == "train-quality":
        from snapflow_spark.catalog import load_table
        from snapflow_spark.operators.classifier import train_from_predicate
        from snapflow_spark.session import build_session, tune

        spark = build_session("cli-train-quality")
        spark.sparkContext.setLogLevel("ERROR")
        tune(spark)
        docs = load_table(spark, args.sf, "documents")
        clf = train_from_predicate(
            docs,
            args.positive_where,
            num_buckets=args.buckets,
            iters=args.iters,
        )
        clf.save(args.out)
        print(
            f"trained: {args.buckets} buckets, {args.iters} iters, "
            f"bias {clf.weights[-1]:+.4f} -> {args.out}"
        )
        return 0

    if args.cmd == "train-langid":
        from snapflow_spark.catalog import load_table
        from snapflow_spark.operators.langid import train_lang_id
        from snapflow_spark.session import build_session, tune

        spark = build_session("cli-train-langid")
        spark.sparkContext.setLogLevel("ERROR")
        tune(spark)
        docs = load_table(spark, args.sf, "documents")
        model = train_lang_id(
            docs,
            label_col=args.label_col,
            num_buckets=args.buckets,
            iters=args.iters,
        )
        model.save(args.out)
        print(
            f"trained: {len(model.labels)} languages {model.labels}, "
            f"{args.buckets} buckets, {args.iters} iters -> {args.out}"
        )
        return 0

    if args.cmd == "tokenizer-stats":
        from snapflow_spark.catalog import load_table
        from snapflow_spark.functions.kn_lm import load_tokenizer
        from snapflow_spark.functions.tokenizer_eval import tokenizer_stats
        from snapflow_spark.session import build_session, tune

        tok = load_tokenizer(args.artifact)
        spark = build_session("cli-tokenizer-stats")
        spark.sparkContext.setLogLevel("ERROR")
        tune(spark)
        docs = load_table(spark, args.sf, "documents")
        tokenizer_stats(spark, docs, tok, by=args.by).show(50, truncate=False)
        return 0

    if args.cmd == "train-kn-lm":
        from snapflow_spark.catalog import load_table
        from snapflow_spark.functions.kn_lm import train_kn_bigram
        from snapflow_spark.session import build_session, tune

        spark = build_session("cli-train-kn-lm")
        spark.sparkContext.setLogLevel("ERROR")
        tune(spark)
        docs = load_table(spark, args.sf, "documents")
        if args.where:
            docs = docs.where(args.where)
        if args.order > 2:
            from snapflow_spark.functions.kn_lm import train_kn_ngram

            nlm = train_kn_ngram(
                docs,
                order=args.order,
                min_word_count=args.min_word_count,
                max_vocab=args.max_vocab,
                modified=True,
                min_gram_count=args.min_gram_count,
            )
            nlm.save(args.out)
            print(
                f"trained: kn_ngram order {nlm.order} (modified), "
                f"vocab {nlm.v}, "
                f"{len(nlm.counts[nlm.order])} top-level types "
                f"-> {args.out}"
            )
            return 0
        lm = train_kn_bigram(
            docs,
            min_word_count=args.min_word_count,
            max_vocab=args.max_vocab,
            modified=args.modified,
        )
        lm.save(args.out)
        kind = "modified" if lm.modified else f"D={lm.d:.4f}"
        print(
            f"trained: kn_bigram ({kind}), vocab {lm.v}, "
            f"{lm.n_cont} bigram types -> {args.out}"
        )
        return 0

    if args.cmd == "train-byte-bpe":
        from snapflow_spark.catalog import load_table
        from snapflow_spark.functions.byte_bpe import train_byte_bpe
        from snapflow_spark.session import build_session, tune

        spark = build_session("cli-train-byte-bpe")
        spark.sparkContext.setLogLevel("ERROR")
        tune(spark)
        docs = load_table(spark, args.sf, "documents")
        tok = train_byte_bpe(
            docs,
            num_merges=args.merges,
            min_count=args.min_count,
            max_word_types=args.max_word_types,
        )
        tok.save(args.out)
        print(
            f"trained: byte-level, {len(tok.merges)} merges, "
            f"vocab {len(tok.vocab)} -> {args.out}"
        )
        return 0

    if args.cmd == "train-unigram":
        from snapflow_spark.catalog import load_table
        from snapflow_spark.functions.unigram import train_unigram
        from snapflow_spark.session import build_session, tune

        spark = build_session("cli-train-unigram")
        spark.sparkContext.setLogLevel("ERROR")
        tune(spark)
        docs = load_table(spark, args.sf, "documents")
        tok = train_unigram(
            docs,
            vocab_size=args.vocab_size,
            min_count=args.min_count,
            max_word_types=args.max_word_types,
            max_piece_len=args.max_piece_len,
            seed_size=args.seed_size,
        )
        tok.save(args.out)
        print(
            f"trained: unigram vocab {len(tok.vocab)} "
            f"(max piece {tok.max_piece_len}) -> {args.out}"
        )
        return 0

    if args.cmd == "train-bpe":
        from snapflow_spark.catalog import load_table
        from snapflow_spark.functions.bpe import train_bpe
        from snapflow_spark.session import build_session, tune

        spark = build_session("cli-train-bpe")
        spark.sparkContext.setLogLevel("ERROR")
        tune(spark)
        docs = load_table(spark, args.sf, "documents")
        tok = train_bpe(
            docs,
            num_merges=args.merges,
            min_count=args.min_count,
            max_word_types=args.max_word_types,
        )
        tok.save(args.out)
        print(
            f"trained: {len(tok.merges)} merges, vocab {len(tok.vocab)} "
            f"-> {args.out}"
        )
        return 0

    if args.cmd == "train-wordpiece":
        from snapflow_spark.catalog import load_table
        from snapflow_spark.functions.wordpiece import train_wordpiece
        from snapflow_spark.session import build_session, tune

        spark = build_session("cli-train-wordpiece")
        spark.sparkContext.setLogLevel("ERROR")
        tune(spark)
        docs = load_table(spark, args.sf, "documents")
        tok = train_wordpiece(
            docs,
            num_merges=args.merges,
            min_count=args.min_count,
            max_word_types=args.max_word_types,
        )
        tok.save(args.out)
        print(f"trained: vocab {len(tok.vocab)} -> {args.out}")
        return 0

    if args.cmd == "sql":
        from snapflow_spark.catalog import TABLES, load_table
        from snapflow_spark.session import build_session, tune

        spark = build_session("cli-sql")
        spark.sparkContext.setLogLevel("ERROR")
        tune(spark)
        for t in TABLES:
            load_table(spark, args.sf, t).createOrReplaceTempView(t)
        df = spark.sql(args.text)
        if args.explain:
            from snapflow_spark.plans import plan_text

            print(plan_text(df))
        else:
            df.show(args.limit, truncate=False)
        return 0

    if args.cmd == "produce":
        from snapflow_spark.plans import produce_file
        from snapflow_spark.session import build_session

        spark = build_session("cli-produce")
        spark.sparkContext.setLogLevel("ERROR")
        g, ran = produce_file(spark, args.pipeline, warehouse=args.warehouse)
        print(f"produced: {ran} node run(s)")
        if args.show:
            out = g.read(spark, args.show)
            if out is None:
                print(f"{args.show}: no snapshots")
            else:
                out.show(args.limit, truncate=False)
        return 0

    from snapflow_spark.registry import QUERIES, all_queries

    queries = all_queries()
    if args.cmd == "list":
        for name in sorted(queries):
            spec = QUERIES[name]
            kind = "oracle" if spec.oracle else "rows-only"
            doc = (spec.doc or "").strip().splitlines()
            print(f"{name:28s} {kind:9s} {doc[0] if doc else ''}")
        return 0

    if args.name not in queries:
        print(f"unknown query {args.name!r}; see `list`", file=sys.stderr)
        return 2

    from snapflow_spark.session import build_session

    spark = build_session(f"cli-{args.cmd}")
    spark.sparkContext.setLogLevel("ERROR")
    df = queries[args.name](spark, args.sf)
    if args.cmd == "schema":
        print(df.schema.simpleString())
        return 0
    if args.explain:
        from snapflow_spark.plans import plan_text

        print(plan_text(df))
        return 0
    df.show(args.limit, truncate=False)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())


def _table_maintenance(args) -> int:
    """Dispatch `table <op> <path>`: the format comes from the layout
    (_delta_log/ = Delta, metadata/version-hint.text = Iceberg), each
    op maps onto its sources/ function, and the result prints as one
    JSON line."""
    import json as _json
    from pathlib import Path as _Path

    root = _Path(args.path)
    is_delta = (root / "_delta_log").is_dir()
    is_ice = (root / "metadata" / "version-hint.text").exists()
    if not (is_delta or is_ice):
        print(f"error: {root} is neither a Delta nor an Iceberg table")
        return 2
    from snapflow_spark.session import build_session, tune

    spark = build_session("cli-table")
    spark.sparkContext.setLogLevel("ERROR")
    tune(spark)
    out: dict
    if is_delta:
        import snapflow_spark.sources.delta as D

        if args.op == "vacuum":
            gone = D.vacuum_delta(
                spark, root, dry_run=args.dry_run,
                retention_hours=args.retention_hours,
            )
            out = {"op": "vacuum", "dry_run": args.dry_run,
                   "reclaimed": gone}
        elif args.op == "optimize":
            zo = [
                c.strip() for c in (args.zorder or "").split(",")
                if c.strip()
            ]
            out = {"op": "optimize", **D.optimize_delta(
                spark, root,
                target_file_bytes=args.target_mb * 1024 * 1024,
                zorder_by=zo or None,
            )}
        elif args.op == "set-props":
            if not args.props:
                print("error: set-props needs --props JSON")
                return 2
            out = {"op": "set-props",
                   "version": D.set_delta_properties(
                       spark, root, _json.loads(args.props))}
        elif args.op == "rename-column":
            if not (args.column and args.to_):
                print("error: rename-column needs --column and --to")
                return 2
            out = {"op": "rename-column",
                   "version": D.rename_delta_column(
                       spark, root, args.column, args.to_)}
        elif args.op == "drop-column":
            if not args.column:
                print("error: drop-column needs --column")
                return 2
            out = {"op": "drop-column",
                   "version": D.drop_delta_column(
                       spark, root, args.column)}
        elif args.op == "checkpoint":
            out = {"op": "checkpoint",
                   "version": D.write_delta_checkpoint(
                       spark, root, v2=args.v2)}
        elif args.op == "update":
            if not (args.where and args.set_):
                print("error: update needs --where and --set")
                return 2
            out = {"op": "update",
                   "rows_updated": D.update_delta(
                       spark, root, args.where,
                       _json.loads(args.set_))}
        elif args.op == "history":
            out = {"op": "history", "rows": [
                r.asDict()
                for r in D.describe_delta_history(spark, root).collect()
            ]}
        elif args.op == "clean-log":
            gone = D.clean_delta_log(
                spark, root, retention_hours=args.retention_hours,
                dry_run=args.dry_run,
            )
            out = {"op": "clean-log", "dry_run": args.dry_run,
                   "removed": gone}
        elif args.op == "upsert":
            if not (args.source and args.keys):
                print("error: upsert needs --source and --keys")
                return 2
            res = D.merge_delta(
                spark, root, spark.read.parquet(args.source),
                on=[c.strip() for c in args.keys.split(",") if c.strip()],
            )
            out = {"op": "upsert", **res}
        elif args.op == "delete":
            if not args.where:
                print("error: delete needs --where")
                return 2
            out = {"op": "delete",
                   "rows_deleted": D.delete_from_delta(
                       spark, root, args.where)}
        elif args.op == "restore":
            if args.version is None:
                print("error: restore needs --version")
                return 2
            out = {"op": "restore",
                   "version": D.restore_delta(
                       spark, root, version=args.version)}
        else:
            print(f"error: {args.op!r} is an Iceberg op; {root} is Delta")
            return 2
    else:
        import snapflow_spark.sources.iceberg as I

        if args.op == "expire":
            gone = I.expire_iceberg_snapshots(
                spark, root, keep_last=args.keep_last,
                dry_run=args.dry_run,
            )
            out = {"op": "expire", "dry_run": args.dry_run,
                   "reclaimed": gone}
        elif args.op == "rewrite":
            out = {"op": "rewrite", **I.rewrite_iceberg_files(
                spark, root,
                target_file_bytes=args.target_mb * 1024 * 1024,
            )}
        elif args.op == "rewrite-manifests":
            out = {"op": "rewrite-manifests",
                   **I.rewrite_iceberg_manifests(spark, root)}
        elif args.op == "publish":
            if not args.from_ref:
                print("error: publish needs --from-ref")
                return 2
            out = {"op": "publish",
                   "snapshot_id": I.fast_forward_iceberg(
                       root, args.from_ref)}
        elif args.op == "set-props":
            if not args.props:
                print("error: set-props needs --props JSON")
                return 2
            out = {"op": "set-props",
                   "properties": I.set_iceberg_properties(
                       root, _json.loads(args.props))}
        elif args.op == "rollback":
            if args.snapshot_id is None:
                print("error: rollback needs --snapshot-id")
                return 2
            I.rollback_iceberg(root, args.snapshot_id)
            out = {"op": "rollback", "snapshot_id": args.snapshot_id}
        elif args.op == "tag":
            if not args.name:
                print("error: tag needs --name")
                return 2
            I.tag_iceberg_snapshot(
                root, args.name, snapshot_id=args.snapshot_id
            )
            out = {"op": "tag", "name": args.name}
        elif args.op == "delete":
            if not args.where:
                print("error: delete needs --where")
                return 2
            out = {"op": "delete",
                   "rows_deleted": I.delete_from_iceberg(
                       spark, root, args.where)}
        elif args.op == "update":
            if not (args.where and args.set_):
                print("error: update needs --where and --set")
                return 2
            out = {"op": "update",
                   "rows_updated": I.update_iceberg(
                       spark, root, args.where,
                       _json.loads(args.set_))}
        elif args.op in ("history", "inspect"):
            kind = "history" if args.op == "history" else args.kind
            out = {"op": args.op, "kind": kind, "rows": [
                r.asDict()
                for r in I.iceberg_metadata_table(
                    spark, root, kind).collect()
            ]}
        elif args.op == "upsert":
            if not (args.source and args.keys):
                print("error: upsert needs --source and --keys")
                return 2
            res = I.upsert_iceberg(
                spark, root, spark.read.parquet(args.source),
                keys=[c.strip() for c in args.keys.split(",")
                      if c.strip()],
            )
            out = {"op": "upsert", **res}
        elif args.op == "orphans":
            gone = I.remove_orphan_iceberg_files(
                spark, root,
                retention_hours=args.retention_hours,
                dry_run=args.dry_run,
            )
            out = {"op": "orphans", "dry_run": args.dry_run,
                   "reclaimed": gone}
        else:
            print(f"error: {args.op!r} is a Delta op; {root} is Iceberg")
            return 2
    print(_json.dumps(out, sort_keys=True))
    return 0
