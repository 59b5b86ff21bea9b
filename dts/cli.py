"""CLI entry points for spark-submit (north rule: `spark-submit
--py-files dts.zip dts/cli.py build ...`). Also runnable as
`python -m dts.cli`.

Subcommands:
  gen-corpus  --out DIR --n-docs N [--seed 42]
  ingest      --source DIR --out DIR  (sha256 invariant + stable doc_id)
  build       --docs DIR --out INDEX [--bucket-size N] [--resumable]
              [--positions] [--strip-literals]
  query       --index INDEX (--text "..." [--fuzzy-k K] | --queries DIR)
              [--k 10] [--strategy taat|bmw] [--out DIR]
  count       --index INDEX --text "..." [--fuzzy-k K]
  phrase      --index INDEX --text "exact token phrase" [--out DIR]
  byte-count  --docs DIR --pattern "raw bytes" [--k 0]
"""

from __future__ import annotations

import argparse
import json
import sys

from dts.session import get_spark


def cmd_gen_corpus(args) -> None:
    from dts.corpus import make_corpus

    spark = get_spark("dts-gen")
    pdf = make_corpus(n_docs=args.n_docs, seed=args.seed)
    spark.createDataFrame(pdf).repartition(
        max(1, args.n_docs // 5000)
    ).write.mode("overwrite").parquet(args.out)
    print(json.dumps({"rows": len(pdf), "out": args.out}))


def cmd_ingest(args) -> None:
    from dts.io import ingest, read_source

    spark = get_spark("dts-ingest")
    out = ingest(read_source(spark, args.source))
    out.write.mode("overwrite").parquet(args.out)
    print(json.dumps({"rows": spark.read.parquet(args.out).count(), "out": args.out}))


def cmd_build(args) -> None:
    spark = get_spark("dts-build")
    docs = spark.read.parquet(args.docs)
    if "doc_id" not in docs.columns:
        from dts.io import ingest

        docs = ingest(docs)
    if args.resumable:
        from dts.checkpoint import build_index_resumable

        meta = build_index_resumable(
            spark, docs, args.out, lineage=args.lineage or args.docs,
            bucket_size=args.bucket_size, positions=args.positions,
            strip_literals=args.strip_literals,
        )
    else:
        from dts.index_build import build_index

        meta = build_index(
            spark, docs, args.out, bucket_size=args.bucket_size,
            positions=args.positions, strip_literals=args.strip_literals,
        )
    print(json.dumps(meta, sort_keys=True))


def cmd_phrase(args) -> None:
    """Exact token-phrase occurrences over a positional index."""
    from dts.phrase import phrase_match_counts

    spark = get_spark("dts-phrase")
    ph = spark.createDataFrame(
        [(0, args.text)], "phrase_id long, text string"
    )
    out = phrase_match_counts(spark, args.index, ph)
    if args.out:
        out.write.mode("overwrite").parquet(args.out)
        print(json.dumps({"out": args.out}))
    else:
        rows = out.orderBy("doc_id").collect()
        for r in rows:
            print(json.dumps({"doc_id": r.doc_id, "n_matches": r.n_matches}))
        print(
            f"Number of matches for pattern <{args.text}>: "
            f"{sum(r.n_matches for r in rows)}"
        )


def cmd_byte_count(args) -> None:
    """Reference-faithful byte-window count over the raw docs table (no
    index, no tokenizer — arbitrary byte patterns incl. punctuation).
    ``--binary`` counts at raw UTF-8 BYTE granularity (apm1's exact
    semantics on non-ASCII content); default is codepoint granularity
    (identical on ASCII)."""
    from dts.bytematch import byte_match_totals

    spark = get_spark("dts-byte-count")
    docs = spark.read.parquet(args.docs)
    text_col = "content" if "content" in docs.columns else "text"
    pat = spark.createDataFrame(
        [(0, args.pattern, args.k)], "pat_id long, pattern string, k int"
    )
    n = byte_match_totals(
        docs, pat, text_col=text_col, binary=args.binary
    ).collect()[0]["n_matches"]
    print(f"Number of matches for pattern <{args.pattern}>: {n}")


def cmd_search(args) -> None:
    """One-call ranked search for a Lucene-style query string
    (dts.parser): bare/+must/-not terms, "quoted phrases", wild*cards,
    fuzzy~k — composed into one scoring job + filter context.
    ``--phrase-mode scored`` ranks quoted phrases as units (Lucene
    PhraseQuery); ``--multifield`` treats --index as a multifield index
    and enables ``field:`` scoping in the same grammar."""
    spark = get_spark("dts-search")
    if getattr(args, "multifield", False):
        from dts.parser import search_fields

        out = search_fields(
            spark, args.index, args.query, k=args.k,
            default_field=args.default_field,
        )
    else:
        from dts.parser import search

        out = search(
            spark, args.index, args.query, k=args.k,
            strategy=args.strategy, phrase_mode=args.phrase_mode,
        )
    for r in out.orderBy("rank").collect():
        print(
            json.dumps(
                {"rank": r.rank, "doc_id": r.doc_id, "score": r.score}
            )
        )


def cmd_query(args) -> None:
    from dts.score_index import bm25_topk_indexed

    spark = get_spark("dts-query")
    if args.text:
        queries = spark.createDataFrame(
            [(0, args.text, args.fuzzy_k)], "query_id long, text string, fuzzy_k int"
        )
    else:
        queries = spark.read.parquet(args.queries)
    out = bm25_topk_indexed(
        spark, args.index, queries, k=args.k, strategy=args.strategy,
        mode=args.mode,
    )
    if args.out:
        out.write.mode("overwrite").parquet(args.out)
        print(json.dumps({"out": args.out}))
    else:
        for r in out.orderBy("query_id", "rank").collect():
            print(
                json.dumps(
                    {
                        "query_id": r.query_id,
                        "rank": r.rank,
                        "doc_id": r.doc_id,
                        "score": r.score,
                    }
                )
            )


def cmd_compact(args) -> None:
    """Re-encode postings with current stats (post-merge maintenance)."""
    import json as _json

    from dts.index_build import compact_index

    spark = get_spark("dts-compact")
    print(_json.dumps(compact_index(spark, args.index), sort_keys=True))


def cmd_check(args) -> None:
    """Index integrity verification (Lucene CheckIndex analogue)."""
    import json as _json

    from dts.check import check_index

    spark = get_spark("dts-check")
    report = check_index(spark, args.index, strict=args.strict)
    print(_json.dumps(report, sort_keys=True))


def cmd_stats(args) -> None:
    """Index statistics (no Spark job)."""
    import json as _json

    from dts.snapshot import index_stats

    print(_json.dumps(index_stats(args.index), sort_keys=True))


def cmd_snapshot(args) -> None:
    """Point-in-time hard-link snapshot (or restore with --restore-to)."""
    import json as _json

    from dts.snapshot import restore_index, snapshot_index

    if args.restore_to:
        man = restore_index(args.snap, args.restore_to)
    else:
        man = snapshot_index(args.index, args.snap)
    print(_json.dumps({"files": len(man["files"])}, sort_keys=True))


def cmd_bool(args) -> None:
    """Boolean MUST/MUST_NOT matching; prints one JSON line per doc."""
    from dts.boolquery import boolean_match_docs

    spark = get_spark("dts-bool")
    q = spark.createDataFrame(
        [(0, args.must, args.must_not or "")],
        "bq_id long, must string, must_not string",
    )
    for r in boolean_match_docs(spark, args.index, q).orderBy("doc_id").collect():
        print(json.dumps({"doc_id": r.doc_id}))


def cmd_wildcard(args) -> None:
    """Wildcard query: scored rewrite (default) or constant-score match."""
    from dts.wildcard import bm25_topk_wildcard, wildcard_match_docs

    spark = get_spark("dts-wildcard")
    q = spark.createDataFrame([(0, args.pattern)], "wq_id long, pattern string")
    if args.match_only:
        for r in wildcard_match_docs(spark, args.index, q).orderBy("doc_id").collect():
            print(json.dumps({"doc_id": r.doc_id}))
        return
    out = bm25_topk_wildcard(spark, args.index, q, k=args.k)
    for r in out.orderBy("rank").collect():
        print(json.dumps({"rank": r.rank, "doc_id": r.doc_id, "score": r.score}))


def cmd_delete(args) -> None:
    """Tombstone doc_ids (comma list or a parquet path with a doc_id
    column); physical removal happens at the next `dts compact`."""
    import json as _json

    from dts.delete import delete_docs

    spark = get_spark("dts-delete")
    if args.doc_ids:
        ids = [int(x) for x in args.doc_ids.split(",") if x.strip()]
    else:
        ids = spark.read.parquet(args.ids_parquet).select("doc_id")
    print(_json.dumps(delete_docs(spark, args.index, ids), sort_keys=True))


def cmd_count(args) -> None:
    """Reference-faithful output format: the per-pattern match count
    (mirrors `Number of matches for pattern <%s>: %d`,
    reference src/apm1.c:294-299)."""
    from dts.score_index import match_counts_indexed

    spark = get_spark("dts-count")
    queries = spark.createDataFrame(
        [(0, args.text, args.fuzzy_k)], "query_id long, text string, fuzzy_k int"
    )
    n = match_counts_indexed(spark, args.index, queries).collect()[0]["n_matches"]
    print(f"Number of matches for pattern <{args.text}>: {n}")


def cmd_complete(args) -> None:
    """Autocomplete: top-n dictionary completions per prefix (cf DESC)."""
    from dts.suggest import complete_prefix

    spark = get_spark("dts-complete")
    rows = complete_prefix(
        spark, args.index, args.prefix.split(","), n=args.n
    ).collect()
    for r in rows:
        print(f"{r['input']}\t{r['suggestion']}\t{r['cf']}\t{r['rank']}")


def cmd_explain(args) -> None:
    """Lucene explain(): per-clause BM25 factors for one (query, doc)."""
    from dts.explain import explain_scores

    spark = get_spark("dts-explain")
    q = spark.createDataFrame([(0, args.text)], "query_id long, text string")
    rows = explain_scores(
        spark, args.index, q, {0: [args.doc_id]},
        similarity=args.similarity,
    ).orderBy("clause").collect()
    total = 0.0
    for r in rows:
        total += r["contribution"]
        print(
            f"clause {r['clause']} term={r['term']!r} tf={r['tf']} "
            f"dl={r['dl']} df={r['df']} -> {r['contribution']:.6f}"
        )
    print(f"total score for doc {args.doc_id}: {total:.6f}")


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(prog="dts")
    sub = p.add_subparsers(dest="cmd", required=True)

    g = sub.add_parser("gen-corpus")
    g.add_argument("--out", required=True)
    g.add_argument("--n-docs", type=int, default=5000)
    g.add_argument("--seed", type=int, default=42)
    g.set_defaults(fn=cmd_gen_corpus)

    g = sub.add_parser("ingest")
    g.add_argument("--source", required=True)
    g.add_argument("--out", required=True)
    g.set_defaults(fn=cmd_ingest)

    g = sub.add_parser("build")
    g.add_argument("--docs", required=True)
    g.add_argument("--out", required=True)
    g.add_argument("--bucket-size", type=int, default=4096)
    g.add_argument("--resumable", action="store_true")
    g.add_argument("--positions", action="store_true")
    g.add_argument("--strip-literals", action="store_true")
    g.add_argument("--lineage", default=None)
    g.set_defaults(fn=cmd_build)

    g = sub.add_parser("phrase")
    g.add_argument("--index", required=True)
    g.add_argument("--text", required=True)
    g.add_argument("--out", default=None)
    g.set_defaults(fn=cmd_phrase)

    g = sub.add_parser("byte-count")
    g.add_argument("--docs", required=True)
    g.add_argument("--pattern", required=True)
    g.add_argument("--k", type=int, default=0)
    g.add_argument("--binary", action="store_true",
                   help="raw UTF-8 byte granularity (apm1-exact)")
    g.set_defaults(fn=cmd_byte_count)

    g = sub.add_parser("query")
    g.add_argument("--index", required=True)
    g.add_argument("--text", default=None)
    g.add_argument("--queries", default=None)
    g.add_argument("--fuzzy-k", type=int, default=0)
    g.add_argument("--k", type=int, default=10)
    g.add_argument("--strategy", choices=["taat", "bmw"], default="taat")
    g.add_argument("--mode", choices=["or", "and"], default="or")
    g.add_argument("--out", default=None)
    g.set_defaults(fn=cmd_query)

    g = sub.add_parser("search")
    g.add_argument("--index", required=True)
    g.add_argument("--query", required=True,
                   help='Lucene-style string: a +b -c "d e" f* g~1 '
                        '(with --multifield also field:atom scoping)')
    g.add_argument("--k", type=int, default=10)
    g.add_argument("--strategy", choices=["taat", "bmw"], default="taat")
    g.add_argument("--phrase-mode", choices=["filter", "scored"],
                   default="filter", dest="phrase_mode")
    g.add_argument("--multifield", action="store_true")
    g.add_argument("--default-field", default=None, dest="default_field")
    g.set_defaults(fn=cmd_search)

    g = sub.add_parser("check")
    g.add_argument("--index", required=True)
    g.add_argument("--strict", action="store_true")
    g.set_defaults(fn=cmd_check)

    g = sub.add_parser("stats")
    g.add_argument("--index", required=True)
    g.set_defaults(fn=cmd_stats)

    g = sub.add_parser("snapshot")
    g.add_argument("--index", default=None)
    g.add_argument("--snap", required=True)
    g.add_argument("--restore-to", default=None, dest="restore_to")
    g.set_defaults(fn=cmd_snapshot)

    g = sub.add_parser("compact")
    g.add_argument("--index", required=True)
    g.set_defaults(fn=cmd_compact)

    g = sub.add_parser("bool")
    g.add_argument("--index", required=True)
    g.add_argument("--must", required=True)
    g.add_argument("--must-not", default="")
    g.set_defaults(fn=cmd_bool)

    g = sub.add_parser("wildcard")
    g.add_argument("--index", required=True)
    g.add_argument("--pattern", required=True)
    g.add_argument("--k", type=int, default=10)
    g.add_argument("--match-only", action="store_true")
    g.set_defaults(fn=cmd_wildcard)

    g = sub.add_parser("delete")
    g.add_argument("--index", required=True)
    g.add_argument("--doc-ids", default=None, help="comma-separated ids")
    g.add_argument("--ids-parquet", default=None)
    g.set_defaults(fn=cmd_delete)

    g = sub.add_parser("complete")
    g.add_argument("--index", required=True)
    g.add_argument("--prefix", required=True, help="comma-separated prefixes")
    g.add_argument("--n", type=int, default=5)
    g.set_defaults(fn=cmd_complete)

    g = sub.add_parser("explain")
    g.add_argument("--index", required=True)
    g.add_argument("--text", required=True)
    g.add_argument("--doc-id", type=int, required=True, dest="doc_id")
    g.add_argument("--similarity", choices=["bm25", "classic", "lmd"],
                   default="bm25")
    g.set_defaults(fn=cmd_explain)

    g = sub.add_parser("count")
    g.add_argument("--index", required=True)
    g.add_argument("--text", required=True)
    g.add_argument("--fuzzy-k", type=int, default=0)
    g.set_defaults(fn=cmd_count)

    args = p.parse_args(argv)
    if args.cmd == "query" and not (args.text or args.queries):
        p.error("query needs --text or --queries")
    if args.cmd == "delete" and not (args.doc_ids or args.ids_parquet):
        p.error("delete needs --doc-ids or --ids-parquet")
    args.fn(args)


if __name__ == "__main__":
    main(sys.argv[1:])
