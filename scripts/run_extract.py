#!/usr/bin/env python
"""spark-submit entrypoint for the resumable extraction job.

Cluster usage (north rule: packaged for --py-files):

    python scripts/make_pyfiles.py                 # -> dist/ai_service_ocr_grading_handler_spark.zip
    spark-submit --py-files dist/ai_service_ocr_grading_handler_spark.zip \\
        scripts/run_extract.py \\
        --pages /data/pages_parquet --out /data/extract_job --run-id run-$(date +%s)

Local smoke (also exercised by tests/test_submit.py):

    spark-submit --master local[8] scripts/run_extract.py --pages ... --out ... --run-id r1

The job is idempotent: re-running with the same --out resumes from the
committed url frontier (see ai_service_ocr_grading_handler_spark/plans/lineage.py).
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

# --py-files ships the package zip; running from the repo works too
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", required=True, help="pages parquet path")
    ap.add_argument("--out", required=True, help="job output root")
    ap.add_argument("--run-id", required=True)
    args = ap.parse_args()

    from ai_service_ocr_grading_handler_spark.session import get_spark

    # spark-submit's --master and --driver-memory size the job
    spark = get_spark(app_name=f"extract-{args.run_id}")

    from ai_service_ocr_grading_handler_spark.plans import lineage

    pages = spark.read.parquet(args.pages)
    manifest = lineage.run_extract(spark, pages, args.out, args.run_id)
    print(json.dumps(manifest))
    spark.stop()


if __name__ == "__main__":
    main()
