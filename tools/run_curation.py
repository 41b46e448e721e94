"""spark-submit entry point for the corpus-curation pipeline.

Usage (local sandbox):
    python tools/run_curation.py --input /path/docs-parquet \\
        --output /path/curated [--min-quality 0.3] [--langs en,de] \\
        [--near-dup-threshold 0.5] [--master local[4]]
    (without --master: local[<host cores>], get_spark's default)

Usage (cluster):
    spark-submit --py-files ocr_platform_spark.zip tools/run_curation.py \\
        --input s3://bucket/extracted --output s3://bucket/curated

Runs the training-corpus funnel (plans/curation.py): quality gate →
language gate → exact dedup → MinHash near-dup drop. Writes the curated
documents as parquet and prints the per-stage funnel as one JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True, help="documents parquet dir")
    ap.add_argument("--output", required=True, help="curated parquet output dir")
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--min-quality", type=float, default=0.3)
    ap.add_argument("--langs", default="en", help="comma-separated kept languages")
    ap.add_argument("--near-dup-threshold", type=float, default=0.5)
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from ocr_platform_spark.plans.curation import curate_corpus, curation_funnel
    from ocr_platform_spark.session import get_spark

    spark = get_spark(master=args.master, app_name="corpus-curation")
    docs = spark.read.parquet(args.input)
    stages = curate_corpus(
        docs,
        id_col=args.id_col,
        text_col=args.text_col,
        min_quality=args.min_quality,
        langs=tuple(args.langs.split(",")),
        near_dup_threshold=args.near_dup_threshold,
    )
    stages["curated"].write.mode("overwrite").parquet(args.output)
    funnel = {
        r["stage"]: r["n_docs"] for r in curation_funnel(stages).collect()
    }
    print(json.dumps({"output": args.output, "funnel": funnel}))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
