#!/usr/bin/env python
"""spark-submit entrypoint for the full pipeline.

    ./scripts/submit.sh [--master local[N]] --input <raw_sequences dir> \
        --out <sink root> [--chunks N]

``--master`` must come FIRST (submit.sh consumes it; everything else is
forwarded here). Ships ``logparser_spark`` via --py-files (see
submit.sh); on a cluster replace --master with your resource manager
and the same zip rides along to every executor's Python workers.
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import SparkSession


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--chunks", type=int, default=1)
    ap.add_argument("--skip-aggregates", action="store_true")
    args = ap.parse_args()

    # session comes from spark-submit; pin only correctness confs here
    spark = SparkSession.builder.getOrCreate()
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    from logparser_spark.plans.pipeline import run_aggregates, run_pipeline

    stats = run_pipeline(spark, args.input, args.out, n_chunks=args.chunks)
    if not args.skip_aggregates:
        run_aggregates(spark, args.out)
    print(json.dumps({"status": "ok", **stats}))


if __name__ == "__main__":
    main()
