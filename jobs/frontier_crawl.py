"""spark-submit entrypoint: run the URL-frontier crawl to completion.

Usage:
    spark-submit --master local[N] --py-files warcbase_spark.zip \
        jobs/frontier_crawl.py --corpus <dir> --state <dir> \
        [--max-rounds R] [--salt-k K] [--gen-docs N]

``--gen-docs N`` synthesizes the deterministic fixture corpus (seed=42)
into --corpus first, so the job is self-contained for benchmarking.
Prints one JSON line with totals + throughput (scheduled URLs/sec).
The URL-seen filter follows the seen set's size (a JVM Bloom up to
``operators.seen.SEEN_BLOOM_MAX_KEYS`` keys, the cogrouped cuckoo past it).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--corpus", required=True)
    ap.add_argument("--state", required=True)
    ap.add_argument("--max-rounds", type=int, default=1000)
    ap.add_argument("--salt-k", type=int, default=16)
    ap.add_argument("--gen-docs", type=int, default=0)
    ap.add_argument("--fresh", action="store_true", help="wipe state dir first")
    args = ap.parse_args()

    from pyspark import SparkConf, SparkContext

    from warcbase_spark.fixtures import ensure_corpus
    from warcbase_spark.frontier.crawl import FrontierCrawl
    from warcbase_spark.session import get_spark

    if args.gen_docs:
        ensure_corpus(args.corpus, n_docs=args.gen_docs)
    if args.fresh and os.path.exists(args.state):
        shutil.rmtree(args.state)

    # the engine's session conf (codegen cache, AQE, Arrow, ...) on
    # spark-submit's --master, which is in the JVM's conf: SparkConf() reads
    # that conf only once Python is connected to the JVM
    SparkContext._ensure_initialized()
    spark = get_spark(app_name="frontier_crawl", master=SparkConf().get("spark.master"))

    t0 = time.time()
    fc = FrontierCrawl(
        spark,
        args.corpus,
        args.state,
        max_rounds=args.max_rounds,
        salt_k=args.salt_k,
    )
    metrics = fc.run()
    elapsed = time.time() - t0

    scheduled = sum(m.scheduled for m in metrics)
    print(
        json.dumps(
            {
                "rounds": len(metrics),
                "scheduled_urls": scheduled,
                "links_extracted": sum(m.links for m in metrics),
                "dedup_hits": sum(m.dedup_hits for m in metrics),
                "elapsed_sec": round(elapsed, 3),
                "scheduled_urls_per_sec": round(scheduled / elapsed, 2) if elapsed else None,
                "parallelism": spark.sparkContext.defaultParallelism,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
