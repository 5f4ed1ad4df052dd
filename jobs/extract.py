#!/usr/bin/env python
"""spark-submit entry for the extraction pipeline.

Cluster:

    spark-submit --py-files paper2llm_spark.zip jobs/extract.py \
        --input <pages table> --output <dir> [--format iceberg] \
        [--mode placeholder|descriptions] [--buckets 512] [--groups 32]

Local smoke:

    python -m paper2llm_spark.pdf.fixtures /tmp/pages.parquet
    python jobs/extract.py --input /tmp/pages.parquet --output /tmp/out --cpus 8

The job is resumable: re-running with the same --output skips committed
buckets (checkpoint table under <output>/checkpoint).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--format", default="parquet",
                    choices=["parquet", "iceberg", "warc"])
    ap.add_argument("--output-format", default=None,
                    choices=["parquet", "orc", "iceberg", "delta"],
                    help="output/lineage/checkpoint table format; defaults "
                         "to --format when that is a table format, else "
                         "parquet (warc input)")
    ap.add_argument("--mode", default="placeholder",
                    choices=["placeholder", "descriptions"])
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--groups", type=int, default=8)
    ap.add_argument("--langs", default="en")
    ap.add_argument("--cpus", type=int, default=None,
                    help="local[N] when no cluster master is provided")
    ap.add_argument("--max-groups", type=int, default=None,
                    help="stop after N commit groups (testing/abort drills)")
    args = ap.parse_args()

    from paper2llm_spark.plans.extract import CheckpointedExtractJob
    from paper2llm_spark.session import get_spark

    spark = get_spark(app_name="p2l-extract", cpus=args.cpus)
    job = CheckpointedExtractJob(
        spark,
        args.input,
        args.output,
        fmt=args.format,
        output_fmt=args.output_format,
        mode=args.mode,
        n_buckets=args.buckets,
        n_groups=args.groups,
        langs=tuple(args.langs.split(",")),
    )
    stats = job.run(max_groups=args.max_groups)
    n = spark.read.format(job.output_fmt).load(job.out_path).count()
    print(json.dumps({**stats, "output_rows": n, "output": job.out_path}))
    # orderly JVM shutdown BEFORE Python teardown: the run registered a
    # callback listener, and a JVM outliving the Python callback server
    # spams connection-refused noise into stderr otherwise
    spark.stop()


if __name__ == "__main__":
    main()
