"""CLI driver — the spark-submit entry point.

  # package the library for executors
  python -m cord19_crawler_spark package --out dist/

  # run a crawl locally
  python -m cord19_crawler_spark crawl --docs 20000 --rounds 3 \
      --batch 2000 --checkpoint /tmp/crawl_ckpt

  # run on a cluster: ship the zip, use this module as the driver file
  # (--checkpoint must be a driver-visible posix path — e.g. a shared
  # filesystem; object-store checkpoints are the Iceberg deployment)
  spark-submit --py-files dist/cord19_crawler_spark.zip \
      cord19_crawler_spark/__main__.py crawl \
      --documents hdfs:///data/documents --rounds 10 \
      --batch 1000000 --checkpoint /sharedfs/crawl_ckpt

The crawl subcommand generates the deterministic synthetic corpus unless
--documents points at an existing parquet of input_hint shape.
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def _cmd_package(args: argparse.Namespace) -> None:
    from cord19_crawler_spark import write_package_zip

    os.makedirs(args.out, exist_ok=True)
    print(write_package_zip(os.path.join(args.out, "cord19_crawler_spark.zip")))


def _cmd_crawl(args: argparse.Namespace) -> None:
    # absolute imports: this file doubles as a standalone spark-submit driver
    # (no parent-package context there); the --py-files zip provides the pkg
    from cord19_crawler_spark.datagen import generate_documents, seed_urls
    from cord19_crawler_spark.frontier import CrawlScheduler, SchedulerConfig
    from cord19_crawler_spark.session import get_spark

    spark = get_spark(app_name="crawl", master=args.master,
                      shuffle_partitions=args.shuffle_partitions)
    if args.documents:
        # count BEFORE caching, deliberately: a parquet count() prunes to
        # zero columns (metadata-only, near-free at any scale), while a
        # cached count would materialize the full-width corpus — for a
        # TB-scale external input that fill can evict before the scheduler
        # reads it, paying the materialization AND the re-scan. The cache
        # fills lazily from the scheduler's first real (column-pruned) use.
        docs = spark.read.parquet(args.documents)
        n_docs = docs.count()
        docs = docs.cache()
    else:
        n_docs = args.docs
        docs = generate_documents(spark, n_docs, partitions=args.shuffle_partitions or 32)
        docs = docs.cache()
    extra = {"filter_kind": args.filter}
    if args.budget_key != "host":
        extra["budget_key"] = args.budget_key
    if args.priority_mode != "round":
        extra["priority_mode"] = args.priority_mode
    if args.max_pending_per_host is not None:
        extra["max_pending_per_host"] = args.max_pending_per_host
    if args.content_dedup:
        extra["content_dedup"] = True
    cfg = SchedulerConfig(
        batch_size=args.batch,
        seen_partitions=args.seen_partitions,
        min_delay_rounds=args.min_delay,
        max_in_flight=args.max_in_flight,
        min_delay_seconds=args.min_delay_seconds,
        extra=extra,
    )
    psl = None
    if args.psl:
        from cord19_crawler_spark.frontier.psl import load_psl

        # "builtin" = the snapshot suffix list; anything else is a
        # publicsuffix.org-format file path
        psl = load_psl(spark, None if args.psl == "builtin" else args.psl)
    sched = CrawlScheduler(spark, docs, args.checkpoint, cfg, psl=psl)
    seeds = seed_urls(spark, args.seeds, n_docs) if sched.store.latest_round() is None else None
    import time as _time

    t0 = _time.time()
    counters = sched.run(args.rounds, seeds=seeds)
    elapsed = _time.time() - t0
    scheduled = sum(c.get("scheduled", 0) for c in counters)
    out = {
        "rounds": counters,
        "crawl_order_len": len(sched.crawl_order()),
        "elapsed_sec": round(elapsed, 2),
        "scheduled_per_sec": round(scheduled / elapsed, 1) if elapsed > 0 else 0.0,
    }
    if args.fingerprint:
        # distributive hashes — cross-cluster-size exactness evidence
        out["crawl_order_fp"] = sched.crawl_order_fingerprint()
        out["seen_fp"] = sched.seen_fingerprint()
    print(json.dumps(out))


def _cmd_index(args: argparse.Namespace) -> None:
    """Reference entry point 1/3 (python src/index.py + barrel build):
    documents parquet → barrel-partitioned postings + lexicon + stats."""
    from cord19_crawler_spark.plans.search_pipeline import build_index
    from cord19_crawler_spark.session import get_spark

    if not args.documents and not args.warc:
        raise SystemExit("index: one of --documents or --warc is required")
    spark = get_spark(app_name="index", master=args.master,
                      shuffle_partitions=args.shuffle_partitions)
    if args.warc:
        # WARC corpus → searchable index: responses' text spans joined per doc
        from pyspark.sql import functions as F

        from cord19_crawler_spark.sources.warc import (
            read_warc,
            warc_responses_to_documents,
        )

        wdocs = warc_responses_to_documents(read_warc(spark, args.warc))
        docs = wdocs.select(
            # WARC docs carry their id as 'doc_id'; honor --id-col by
            # aliasing so build_index resolves whatever name was requested
            F.col("doc_id").alias(args.id_col),
            F.array_join(
                F.transform(
                    F.filter(
                        F.col("spans"),
                        lambda s: (s["kind"] != "media") & s["text"].isNotNull(),
                    ),
                    lambda s: s["text"],
                ),
                " ",
            ).alias(args.text_col),
        )
    else:
        docs = spark.read.parquet(args.documents)
    meta = build_index(
        spark, docs, args.out,
        id_col=args.id_col, text_col=args.text_col,
        title_col=args.title_col, num_barrels=args.barrels,
    )
    print(json.dumps(meta))


def _cmd_export_warc(args: argparse.Namespace) -> None:
    """Interleaved documents parquet → WARC archives (the crawl-storage
    format read_warc streams back; one gzip member per record)."""
    from cord19_crawler_spark.session import get_spark
    from cord19_crawler_spark.sources.warc import write_warc

    spark = get_spark(app_name="export_warc", master=args.master,
                      shuffle_partitions=args.shuffle_partitions)
    docs = spark.read.parquet(args.documents)
    manifest = write_warc(docs, args.out, date=args.date,
                          gzip_members=not args.plain)
    print(json.dumps(manifest))


def _cmd_search(args: argparse.Namespace) -> None:
    """Reference entry point 2 (GET /api/search): ranked TF-IDF search over
    a built index, lexicon-backed lemma expansion, barrel pruning."""
    from cord19_crawler_spark.plans.search_pipeline import search
    from cord19_crawler_spark.session import get_spark

    spark = get_spark(app_name="search", master=args.master,
                      shuffle_partitions=args.shuffle_partitions)
    rows = search(spark, args.index, args.query, k=args.k).collect()
    print(json.dumps([r.asDict() for r in rows], default=str))


def _cmd_serve(args: argparse.Namespace) -> None:
    """Reference entry point 4 (python src/app.py, S10): HTTP search API
    over a built index — /, /api/search, /api/autocomplete, /api/upload,
    /view/<doc_id>."""
    from cord19_crawler_spark.serving import SearchService, serve
    from cord19_crawler_spark.session import get_spark

    spark = get_spark(app_name="serve", master=args.master,
                      shuffle_partitions=args.shuffle_partitions)
    svc = SearchService(
        spark, args.index,
        corpus_path=args.documents, state_dir=args.state_dir,
        model_dir=args.model, id_col=args.id_col, text_col=args.text_col,
        title_col=args.title_col,
    )
    serve(svc, host=args.host, port=args.port)


def _cmd_compact(args: argparse.Namespace) -> None:
    """Checkpoint maintenance: cumulative compaction snapshot, optionally
    reclaiming the round dirs it makes redundant."""
    from cord19_crawler_spark.frontier import CrawlScheduler, SchedulerConfig
    from cord19_crawler_spark.session import get_spark

    spark = get_spark(app_name="compact", master=args.master,
                      shuffle_partitions=args.shuffle_partitions)
    empty_docs = spark.createDataFrame(
        [], "doc_id string, spans array<struct<kind:string,text:string,"
            "media_ref:string,offset:int>>",
    )
    sched = CrawlScheduler.open(spark, empty_docs, args.checkpoint, SchedulerConfig())
    rnd = sched.compact()
    expired = sched.expire() if args.expire else []
    print(json.dumps({"compacted_round": rnd, "expired_rounds": expired}))


def _cmd_metrics(args: argparse.Namespace) -> None:
    """Per-host frontier metrics over an existing crawl checkpoint."""
    from cord19_crawler_spark.frontier import CrawlScheduler, SchedulerConfig
    from cord19_crawler_spark.session import get_spark

    spark = get_spark(app_name="metrics", master=args.master,
                      shuffle_partitions=args.shuffle_partitions)
    empty_docs = spark.createDataFrame(
        [], "doc_id string, spans array<struct<kind:string,text:string,"
            "media_ref:string,offset:int>>",
    )
    sched = CrawlScheduler.open(spark, empty_docs, args.checkpoint, SchedulerConfig())
    rows = sched.frontier_metrics().limit(args.limit).collect()
    print(json.dumps([r.asDict() for r in rows]))


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(prog="cord19_crawler_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    pk = sub.add_parser("package", help="build the --py-files zip")
    pk.add_argument("--out", default="dist")
    pk.set_defaults(fn=_cmd_package)

    cr = sub.add_parser("crawl", help="run scheduling rounds")
    cr.add_argument("--documents", help="parquet of input_hint documents", default=None)
    cr.add_argument("--docs", type=int, default=20000, help="synthetic corpus size")
    cr.add_argument("--rounds", type=int, default=3)
    cr.add_argument("--batch", type=int, default=2000)
    cr.add_argument("--seeds", type=int, default=500)
    cr.add_argument("--checkpoint", required=True)
    cr.add_argument("--master", default=None)
    cr.add_argument("--shuffle-partitions", type=int, default=None)
    cr.add_argument("--seen-partitions", type=int, default=16)
    cr.add_argument("--min-delay", type=int, default=1,
                    help="politeness delay in ROUNDS (deterministic mode)")
    cr.add_argument("--min-delay-seconds", type=float, default=None,
                    help="wall-clock politeness: seconds per host between fetches")
    cr.add_argument("--max-in-flight", type=int, default=1000)
    cr.add_argument("--budget-key", choices=["host", "domain"], default="host",
                    help="politeness budget granularity")
    cr.add_argument("--psl", default=None,
                    help="public-suffix list for --budget-key domain: "
                         "'builtin' or a publicsuffix.org-format file")
    cr.add_argument("--filter", choices=["bloom", "cuckoo"], default="bloom")
    cr.add_argument("--priority-mode", choices=["round", "indegree"],
                    default="round",
                    help="discovered-URL priority: round decay only, or "
                    "OPIC-style in-degree boost (DESIGN.md)")
    cr.add_argument("--max-pending-per-host", type=int, default=None,
                    help="crawler-trap guard: bound each host's pending queue")
    cr.add_argument("--content-dedup", action="store_true",
                    help="mirror detection: skip link extraction for "
                    "already-seen content fingerprints")
    cr.add_argument("--fingerprint", action="store_true",
                    help="emit distributive crawl-order + seen-set hashes "
                    "(cross-cluster-size exactness evidence)")
    cr.set_defaults(fn=_cmd_crawl)

    ix = sub.add_parser("index", help="build the barrel-partitioned search index")
    ix.add_argument("--documents", help="parquet with id/text cols")
    ix.add_argument("--warc", help="WARC archive glob (alternative input)")
    ix.add_argument("--out", required=True)
    ix.add_argument("--id-col", default="doc_id")
    ix.add_argument("--text-col", default="text")
    ix.add_argument("--title-col", default=None)
    ix.add_argument("--barrels", type=int, default=10)
    ix.add_argument("--master", default=None)
    ix.add_argument("--shuffle-partitions", type=int, default=None)
    ix.set_defaults(fn=_cmd_index)

    ew = sub.add_parser("export-warc", help="documents parquet → WARC archives")
    ew.add_argument("--documents", required=True)
    ew.add_argument("--out", required=True)
    ew.add_argument("--date", default="2026-01-01T00:00:00Z",
                    help="WARC-Date stamp (fixed, for reproducible archives)")
    ew.add_argument("--plain", action="store_true", help="no gzip members")
    ew.add_argument("--master", default=None)
    ew.add_argument("--shuffle-partitions", type=int, default=None)
    ew.set_defaults(fn=_cmd_export_warc)

    se = sub.add_parser("search", help="ranked search over a built index")
    se.add_argument("--index", required=True)
    se.add_argument("--query", required=True)
    se.add_argument("-k", type=int, default=10)
    se.add_argument("--master", default=None)
    se.add_argument("--shuffle-partitions", type=int, default=None)
    se.set_defaults(fn=_cmd_search)

    sv = sub.add_parser("serve", help="HTTP search API over a built index")
    sv.add_argument("--index", required=True, help="build output dir (index subcommand)")
    sv.add_argument("--documents", default=None,
                    help="corpus parquet for /view full-text lookups")
    sv.add_argument("--state-dir", default=None,
                    help="persist uploaded (dynamic) docs here; resume on restart")
    sv.add_argument("--model", default=None,
                    help="Word2Vec model dir for semantic=true expansion")
    sv.add_argument("--id-col", default="doc_id")
    sv.add_argument("--text-col", default="text")
    sv.add_argument("--title-col", default=None)
    sv.add_argument("--host", default="0.0.0.0")
    sv.add_argument("--port", type=int, default=5000)
    sv.add_argument("--master", default=None)
    sv.add_argument("--shuffle-partitions", type=int, default=None)
    sv.set_defaults(fn=_cmd_serve)

    co = sub.add_parser("compact", help="compact a crawl checkpoint (optionally expire)")
    co.add_argument("--checkpoint", required=True)
    co.add_argument("--expire", action="store_true",
                    help="delete round dirs covered by the new snapshot")
    co.add_argument("--master", default=None)
    co.add_argument("--shuffle-partitions", type=int, default=None)
    co.set_defaults(fn=_cmd_compact)

    me = sub.add_parser("metrics", help="per-host frontier metrics from a checkpoint")
    me.add_argument("--checkpoint", required=True)
    me.add_argument("--limit", type=int, default=50)
    me.add_argument("--master", default=None)
    me.add_argument("--shuffle-partitions", type=int, default=None)
    me.set_defaults(fn=_cmd_metrics)

    args = p.parse_args(argv)
    args.fn(args)


if __name__ == "__main__":
    main()
