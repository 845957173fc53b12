"""spark-submit entry point for the ER pipeline.

Replaces the reference's CLI/REST entry points (SURVEY.md §3.2-3.3) with a
batch job:

  spark-submit --py-files dist/engine.zip jobs/run_pipeline.py \
      --input /data/pages --work-dir /data/er_run --threshold 0.80 \
      [--labeled-pairs /data/labeled_pairs] [--synthetic N]

Reads a parquet `pages` table (input_hint shape), runs the checkpointed
pipeline (resuming any completed stages), prints the JSON report.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="pages parquet path")
    ap.add_argument("--synthetic", type=int, help="generate N synthetic households instead")
    ap.add_argument("--work-dir", required=True)
    ap.add_argument("--threshold", type=float, default=0.80)
    ap.add_argument("--max-block-size", type=int, default=200)
    ap.add_argument("--labeled-pairs", help="labeled pairs parquet for F1 report")
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument(
        "--iceberg-prefix",
        help="catalog.db prefix for Iceberg stage checkpoints (requires the "
        "iceberg-spark-runtime jar; falls back to parquet when absent)",
    )
    args = ap.parse_args()

    from indian_address_parser_spark.plans.er_pipeline import run_pipeline
    from indian_address_parser_spark.plans.session import get_spark

    spark = get_spark(app_name="er-pipeline")
    if args.synthetic:
        from indian_address_parser_spark.sources.pages import generate

        pages = generate(spark, n_households=args.synthetic)["pages"]
    elif args.input:
        pages = spark.read.parquet(args.input)
    else:
        ap.error("one of --input / --synthetic is required")

    labeled = spark.read.parquet(args.labeled_pairs) if args.labeled_pairs else None
    report = run_pipeline(
        spark,
        pages,
        args.work_dir,
        threshold=args.threshold,
        max_block_size=args.max_block_size,
        labeled_pairs=labeled,
        resume=not args.no_resume,
        iceberg_prefix=args.iceberg_prefix,
    )
    print(json.dumps(report, indent=2))


if __name__ == "__main__":
    main()
