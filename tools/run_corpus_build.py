"""spark-submit entry point for the full corpus-build pipeline.

Usage (local sandbox):
    python tools/run_corpus_build.py --input /path/raw-pages-parquet \\
        --table /path/extracted-table --output /path/corpus-shards \\
        [--token-budget 1000000] [--n-shards 64] [--scrub-pii] \\
        [--compression-band 200:900] [--lm-counts /path/ref-counts-parquet]

Usage (cluster — the north rule's ship story):
    spark-submit --py-files ocr_platform_spark.zip tools/run_corpus_build.py \\
        --input s3://bucket/crawl --table s3://bucket/extracted \\
        --output s3://bucket/corpus --master yarn

The engine's end-to-end story as one job (plans/corpus_build.py
run_corpus_build_job): extract (resumable, lineage-committed) →
canonical-url dedup → optional PII scrub → paragraph dedup → optional
compression + pretrained-LM + classifier gates (argmax keep-set or the
calibrated margin threshold the quality_threshold_sweep report sizes) →
single-pass curation funnel → optional containment strip / benchmark
decontamination (exact + fuzzy) → token-budget cut → sharded sink with
write-audit manifest.
Prints the run metrics (funnel rows, per-stage observations, shard
manifest totals) as one JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True, help="raw pages parquet dir")
    ap.add_argument("--table", required=True, help="extraction snapshot table path")
    ap.add_argument("--output", default=None, help="sharded corpus output dir")
    ap.add_argument("--run-id", default=None)
    ap.add_argument("--min-quality", type=float, default=0.1)
    ap.add_argument("--langs", default="en", help="comma-separated kept languages")
    ap.add_argument("--near-dup-threshold", type=float, default=0.5)
    ap.add_argument("--token-budget", type=int, default=None)
    ap.add_argument("--para-min-df", type=int, default=3)
    ap.add_argument("--scrub-pii", action="store_true")
    ap.add_argument("--honor-noindex", action="store_true")
    ap.add_argument(
        "--compression-band",
        default=None,
        help="lo:hi deflate-ratio band in x1000 units, e.g. 200:900",
    )
    ap.add_argument(
        "--lm-counts",
        default=None,
        help="parquet dir of pretrained (bigram, c) reference counts",
    )
    ap.add_argument(
        "--classifier-weights",
        default=None,
        help="parquet dir of a pretrained (label, token, w) NB model",
    )
    ap.add_argument(
        "--classifier-keep",
        default=None,
        help="comma-separated labels the argmax gate keeps",
    )
    ap.add_argument(
        "--classifier-margin",
        default=None,
        help="pos:neg:threshold — gate on the binary margin instead of "
        "argmax (the quality_threshold_sweep-calibrated cutoff)",
    )
    ap.add_argument(
        "--script-gate",
        action="store_true",
        help="drop docs where two or more scripts clear the mixing "
        "threshold (keyword-stuffing signal) before the dedup stages",
    )
    ap.add_argument(
        "--code-route",
        choices=("prose", "code"),
        default=None,
        help="route by the integer code-line-share rule before the dedup "
        "stages: 'prose' drops code-shaped docs, 'code' keeps only them",
    )
    ap.add_argument(
        "--containment-strip-min",
        type=float,
        default=None,
        help="rewrite wrapper pages whose fingerprint containment of "
        "another doc reaches this fraction (cut the wrapped body)",
    )
    ap.add_argument(
        "--decontam-eval",
        default=None,
        help="parquet dir of eval/benchmark texts to decontaminate against",
    )
    ap.add_argument("--decontam-n", type=int, default=8)
    ap.add_argument(
        "--decontam-fuzzy-threshold",
        type=float,
        default=None,
        help="also drop near-matches at this shingle-Jaccard (fuzzy pass)",
    )
    ap.add_argument("--n-shards", type=int, default=64)
    ap.add_argument(
        "--epoch-budget",
        type=int,
        default=None,
        help="training-plan token budget: emit temperature-mixture epoch "
        "plan + sharded feed order over the final corpus",
    )
    ap.add_argument("--order-shards", type=int, default=16)
    ap.add_argument(
        "--mixture-sqrt-iters",
        type=int,
        default=1,
        help="temperature knob: 0 -> proportional, 1 -> T=2, 2 -> T=4",
    )
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from ocr_platform_spark.plans.corpus_build import run_corpus_build_job
    from ocr_platform_spark.session import get_spark

    spark = get_spark(master=args.master, app_name="corpus-build")
    docs = spark.read.parquet(args.input)
    band = None
    if args.compression_band:
        lo, hi = args.compression_band.split(":", 1)
        band = (int(lo), int(hi))
    lm_counts = spark.read.parquet(args.lm_counts) if args.lm_counts else None
    clf_weights = (
        spark.read.parquet(args.classifier_weights)
        if args.classifier_weights
        else None
    )
    clf_margin = None
    if args.classifier_margin:
        pos, neg, cut = args.classifier_margin.split(":", 2)
        clf_margin = (pos, neg, int(cut))
    decontam_eval = (
        spark.read.parquet(args.decontam_eval) if args.decontam_eval else None
    )
    if decontam_eval is not None and "doc_id" not in decontam_eval.columns:
        # the fuzzy pass reports best_eval_id; derive a deterministic id
        # from the text bytes when the eval parquet ships only text
        from pyspark.sql import functions as F

        decontam_eval = decontam_eval.withColumn("doc_id", F.xxhash64("text"))

    res = run_corpus_build_job(
        spark,
        docs,
        args.table,
        run_id=args.run_id,
        min_quality=args.min_quality,
        langs=tuple(args.langs.split(",")),
        near_dup_threshold=args.near_dup_threshold,
        token_budget=args.token_budget,
        para_min_df=args.para_min_df,
        scrub_pii=args.scrub_pii,
        honor_noindex=args.honor_noindex,
        compression_band=band,
        script_gate=args.script_gate,
        code_route=args.code_route,
        lm_counts=lm_counts,
        classifier_weights=clf_weights,
        classifier_keep=tuple(args.classifier_keep.split(","))
        if args.classifier_keep
        else (),
        classifier_margin=clf_margin,
        containment_strip_min=args.containment_strip_min,
        decontam_eval=decontam_eval,
        decontam_n=args.decontam_n,
        decontam_fuzzy_threshold=args.decontam_fuzzy_threshold,
        shard_output=(args.output, args.n_shards) if args.output else None,
        epoch_budget=args.epoch_budget,
        order_shards=args.order_shards,
        mixture_sqrt_iters=args.mixture_sqrt_iters,
    )
    res.pop("curated", None)  # DataFrame handle, not JSON
    res.pop("training_order", None)  # DataFrame handle, not JSON
    print(json.dumps(res, default=str))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
