"""spark-submit entry point for the extraction pipeline.

Usage (local sandbox):
    python tools/run_extraction.py --input /path/docs-parquet \\
        --table /path/extracted-table [--master local[4]] [--run-id r1]
    (without --master: local[<host cores>], get_spark's default)

Usage (cluster — the north rule's ship story):
    spark-submit --py-files ocr_platform_spark.zip tools/run_extraction.py \\
        --input s3://bucket/crawl --input-format warc \\
        --table s3://bucket/extracted --master yarn

The job is resumable: re-running with the same table path extracts only
urls absent from committed snapshots (left-anti join); a crashed run
leaves no visible rows. Lineage rows (partition id, counts, bytes,
extractor version, elapsed ms, run id) commit atomically with the data.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True, help="documents parquet dir or WARC dir")
    ap.add_argument("--input-format", choices=["parquet", "warc"], default="parquet")
    ap.add_argument("--table", required=True, help="snapshot table output path")
    ap.add_argument("--master", default=None, help="spark master (default: env/local)")
    ap.add_argument("--run-id", default=None)
    ap.add_argument(
        "--num-partitions", type=int, default=None,
        help="fixed kernel task count (default: AQE sizes tasks by shuffled bytes)",
    )
    args = ap.parse_args()

    from ocr_platform_spark.session import get_spark

    spark = get_spark(master=args.master, app_name="extraction-job")
    try:
        if args.input_format == "warc":
            from ocr_platform_spark.sources.warc import read_warc

            docs = read_warc(spark, args.input)
        else:
            docs = spark.read.parquet(args.input)

        from ocr_platform_spark.plans.pipeline import run_extraction_job

        metrics = run_extraction_job(
            spark, docs, args.table,
            run_id=args.run_id, num_partitions=args.num_partitions,
        )
        print(json.dumps(metrics))
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
