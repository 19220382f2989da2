"""Batch crawl entry point (§3.1) — the spark-submit deployment surface.

Cluster:
  spark-submit --py-files croawl_spark.zip -m ... croawl_spark/plans/crawl_job.py \
      --seeds s3://bucket/seeds.txt --cycles 10 --budget 100 \
      --warehouse s3://bucket/crawl-warehouse --resume

Sandbox:
  python -m croawl_spark.plans.crawl_job --seeds /tmp/seeds.txt --cycles 3 \
      --budget 2 --warehouse /tmp/warehouse

Pure ``--py-files`` deployment: no JVM extension points, no custom Catalyst
rules (SURVEY.md §7.3).
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser(description="croawl_spark batch crawl")
    ap.add_argument("--seeds", required=True, help="seed list text file")
    ap.add_argument("--cycles", type=int, default=3)
    ap.add_argument("--budget", type=int, default=2, help="fetches per host per cycle")
    ap.add_argument("--warehouse", required=True, help="table warehouse dir")
    ap.add_argument("--resume", action="store_true",
                    help="continue from the last committed cycle")
    ap.add_argument("--n-salt", type=int, default=16)
    ap.add_argument("--n-buckets", type=int, default=64)
    ap.add_argument("--compact-every", type=int, default=8,
                    help="fold frontier tombstones into one segment every K cycles")
    args = ap.parse_args()

    from croawl_spark.plans.cycle import CrawlConfig, bootstrap, run_cycle
    from croawl_spark.session import get_spark
    from croawl_spark.sources.seeds import load_seeds
    from croawl_spark.sources.tableio import TableIO

    spark = get_spark("croawl-crawl-job")
    cfg = CrawlConfig(
        k_per_host=args.budget,
        n_salt=args.n_salt,
        n_buckets=args.n_buckets,
        frontier_compact_every=args.compact_every,
    )
    io = TableIO(spark, args.warehouse)
    start = 0
    if args.resume:
        start = io.last_committed_cycle() + 1
    else:
        io.destroy()
        io = TableIO(spark, args.warehouse)
        bootstrap(spark, load_seeds(spark, args.seeds), io, cfg)
    for t in range(start, args.cycles):
        m = run_cycle(spark, io, t, cfg)
        print(json.dumps(m), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
