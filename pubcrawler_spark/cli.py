"""CLI entry points — the Spark-native equivalents of the reference's
run surfaces (run_crawler.py, search_ai_assistant.py, trends analysis),
launchable via spark-submit --py-files pubcrawler_spark.zip:

    python -m pubcrawler_spark.cli crawl --pages <parquet> --seeds <file> \
        --robots <parquet> --checkpoint <dir> [--resume] [--iterations N]
    python -m pubcrawler_spark.cli search --papers <parquet> --query 'title:"..." term'
    python -m pubcrawler_spark.cli analyze --papers <parquet> --out <dir>

Each subcommand is a thin shell over the library modules; all compute
stays in the DataFrame plans.
"""

from __future__ import annotations

import argparse
import json
import sys


def _spark(args):
    from pubcrawler_spark.session import get_spark

    return get_spark("pubcrawler-cli", master=args.master)


def cmd_crawl(args) -> int:
    from pubcrawler_spark.plans.frontier import CrawlEngine

    spark = _spark(args)
    pages = spark.read.parquet(args.pages)
    robots = (
        spark.read.parquet(args.robots)
        if args.robots
        else spark.createDataFrame([], "host string, robots_txt string")
    )
    seeds = [l.strip() for l in open(args.seeds) if l.strip()]
    engine = CrawlEngine(
        spark, pages, robots, seeds,
        checkpoint_dir=args.checkpoint, year=args.year,
        host_budget=args.budget, seen_mode=args.seen_mode,
    )
    totals = engine.run(max_iterations=args.iterations, resume=args.resume)
    print(json.dumps(totals))
    return 0


def cmd_embed(args) -> int:
    """Incremental embed pipeline (embedder_chroma.py run surface):
    anti-join ids already in the store, encode only the new docs,
    append. Re-runs are no-ops."""
    from pubcrawler_spark.operators import embed

    spark = _spark(args)
    docs = spark.read.parquet(args.docs)
    if args.title_abstract:
        docs = docs.withColumn("__doc_text", embed.compose_document())
        text_col = "__doc_text"
    else:
        text_col = args.text_col
    n = embed.run_incremental_embed(
        docs, args.store, id_col=args.id_col, text_col=text_col, dim=args.dim
    )
    print(json.dumps({"embedded": n, "store": args.store}))
    return 0


def cmd_index(args) -> int:
    """FTS index build (indexer.py run surface): materialize the
    posting table (optionally porter-stemmed) as term-sorted compacted
    parquet (the FTS5 bulk-load + optimize sequence, indexer.py:99)."""
    from pubcrawler_spark import sinks

    spark = _spark(args)
    docs = spark.read.parquet(args.docs)
    cols = tuple(c for c in args.cols.split(",") if c in docs.columns)
    postings = sinks.build_posting_table(docs, args.id_col, text_cols=cols, stem=args.stem)
    stats = sinks.write_index(postings, args.out, target_file_mb=args.target_file_mb)
    print(json.dumps({"out": args.out, "cols": list(cols), "stem": args.stem, **stats}))
    return 0


def cmd_search(args) -> int:
    from pubcrawler_spark.operators.search import keyword_search, search_stats

    spark = _spark(args)
    papers = spark.read.parquet(args.papers)
    cols = [c for c in ("title", "authors", "abstract", "text") if c in papers.columns]
    res = keyword_search(papers, args.query, cols, args.id_col)
    res.show(args.top, truncate=60)
    if {"conference", "year"} <= set(papers.columns):
        search_stats(res).show(20)
    return 0


def cmd_analyze(args) -> int:
    from pubcrawler_spark.operators import analytics

    spark = _spark(args)
    papers = spark.read.parquet(args.papers)
    classified = analytics.classify_subfields(papers)
    stats = analytics.topic_stats(analytics.explode_subfields(classified))
    stats.orderBy("topic_name").write.mode("overwrite").option("header", True).csv(
        args.out + "/topic_stats"
    )
    analytics.word_frequency(papers, top_n=200).write.mode("overwrite").option(
        "header", True
    ).csv(args.out + "/word_frequency")
    print(f"wrote {args.out}/topic_stats and {args.out}/word_frequency")
    return 0


def cmd_package(args) -> int:
    """Build the ``--py-files`` archive for cluster submission: zips the
    ``pubcrawler_spark`` package (sources only, no caches) so the same
    job that runs here runs on a multi-executor cluster as

        spark-submit --py-files pubcrawler_spark.zip your_job.py crawl ...

    where ``your_job.py`` is a thin launcher (spark-submit takes an
    application FILE, not ``-m``)::

        import sys
        from pubcrawler_spark.cli import main
        sys.exit(main(sys.argv[1:]))

    Pure driver-side file work — no SparkSession."""
    import os
    import zipfile

    pkg_root = os.path.dirname(os.path.abspath(__file__))
    parent = os.path.dirname(pkg_root)
    out = os.path.abspath(args.out)
    n = 0
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as zf:
        for dirpath, dirnames, filenames in os.walk(pkg_root):
            dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
            for fname in sorted(filenames):
                if not fname.endswith(".py"):
                    continue
                full = os.path.join(dirpath, fname)
                zf.write(full, os.path.relpath(full, parent))
                n += 1
    print(json.dumps({"archive": out, "files": n}))
    return 0


def main(argv: list[str] | None = None) -> int:
    common = argparse.ArgumentParser(add_help=False)
    common.add_argument("--master", default=None, help="Spark master (default: local[$SPARK_GRAFT_CPUS or *])")

    ap = argparse.ArgumentParser(prog="pubcrawler_spark", parents=[common])
    sub = ap.add_subparsers(dest="cmd", required=True)

    c = sub.add_parser("crawl", help="run the frontier engine", parents=[common])
    c.add_argument("--pages", required=True)
    c.add_argument("--seeds", required=True, help="file with one seed URL per line")
    c.add_argument("--robots", default=None)
    c.add_argument("--checkpoint", required=True)
    c.add_argument("--iterations", type=int, default=5)
    c.add_argument("--budget", type=int, default=10)
    c.add_argument("--year", default=2024)
    c.add_argument(
        "--seen-mode", choices=["exact", "bloom", "cuckoo"], default="bloom",
        help="URL-seen set: exact anti-join, bloom filter (held on the driver "
        "while it is small, else as a checkpointed shard table), or cuckoo "
        "filter (supports re-crawl deletes)",
    )
    c.add_argument("--resume", action="store_true")
    c.set_defaults(fn=cmd_crawl)

    e = sub.add_parser("embed", help="incremental text-embedding pipeline", parents=[common])
    e.add_argument("--docs", required=True)
    e.add_argument("--store", required=True, help="parquet vector-store dir (appended)")
    e.add_argument("--id-col", default="doc_id")
    e.add_argument("--text-col", default="text")
    e.add_argument("--title-abstract", action="store_true",
                   help="embed f'{title}. {abstract}' like the reference")
    e.add_argument("--dim", type=int, default=64)
    e.set_defaults(fn=cmd_embed)

    i = sub.add_parser("index", help="build the FTS posting table", parents=[common])
    i.add_argument("--docs", required=True)
    i.add_argument("--out", required=True)
    i.add_argument("--id-col", default="doc_id")
    i.add_argument("--cols", default="title,authors,abstract")
    i.add_argument("--stem", action="store_true", help="add porter-stemmed term column")
    i.add_argument("--target-file-mb", type=int, default=128,
                   help="compaction target file size (FTS5 optimize analog)")
    i.set_defaults(fn=cmd_index)

    s = sub.add_parser("search", help="field-scoped keyword search", parents=[common])
    s.add_argument("--papers", required=True)
    s.add_argument("--query", required=True)
    s.add_argument("--id-col", default="id")
    s.add_argument("--top", type=int, default=20)
    s.set_defaults(fn=cmd_search)

    a = sub.add_parser("analyze", help="topic stats + word frequency", parents=[common])
    a.add_argument("--papers", required=True)
    a.add_argument("--out", required=True)
    a.set_defaults(fn=cmd_analyze)

    p = sub.add_parser(
        "package", help="build the spark-submit --py-files zip", parents=[common]
    )
    p.add_argument("--out", default="pubcrawler_spark.zip")
    p.set_defaults(fn=cmd_package)

    args = ap.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
