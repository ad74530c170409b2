#!/usr/bin/env python
"""spark-submit entrypoint for the tiling pipeline (north-rule deployment
path: `spark-submit --py-files build/py3dtilers_spark.zip tools/submit_job.py`).

The engine code arrives via --py-files (a zip built by tools/package.py), so
this script imports `py3dtilers_spark` from the distributed archive exactly
as a multi-executor cluster would — no sys.path pointing at the repo. The
master/executor topology comes from spark-submit flags, never from code:
the SAME artifact runs `--master local[4]` here and
`--master yarn --num-executors N` on a real fleet.

    spark-submit --master local[4] \
        --py-files build/py3dtilers_spark.zip \
        tools/submit_job.py --input <features parquet or sf_dir> \
        --out /tmp/tiles --kd-max 300 [--resume]

Prints one JSON line with the run stats (tile count, rows, timings,
lineage checksum count) on success.
"""
from __future__ import annotations

import argparse
import json
import os


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--input", required=True,
        help="sf dir containing lineitem.parquet, or a features parquet dir"
        " (with a bytes payload column unless --no-payload)",
    )
    ap.add_argument("--out", required=True)
    ap.add_argument("--kd-max", type=int, default=300)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--no-payload", action="store_true", help="skip the payload encode branch")
    args = ap.parse_args()

    # Import AFTER spark-submit has placed the --py-files zip on sys.path.
    from pyspark.sql import SparkSession

    from py3dtilers_spark.plans.tiler_job import run_tiler

    spark = (
        SparkSession.builder.appName("py3dtilers_spark_submit")
        .config("spark.sql.adaptive.enabled", "true")
        .getOrCreate()
    )
    # explicit input layouts — anything else is a user error, named clearly
    features = None
    sf_dir = args.input
    if os.path.exists(os.path.join(args.input, "_SUCCESS")):
        features = spark.read.parquet(args.input)  # a features parquet dir
        sf_dir = ""
    elif not os.path.exists(os.path.join(args.input, "lineitem.parquet")):
        ap.error(
            f"--input {args.input!r} is neither a features parquet directory"
            " (no _SUCCESS marker) nor an sf dir (no lineitem.parquet);"
            " pass one of those two layouts"
        )
    stats = run_tiler(
        spark,
        sf_dir=sf_dir,
        out_dir=args.out,
        kd_tree_max=args.kd_max,
        exact=False,
        with_payload=not args.no_payload,
        resume=args.resume,
        run_id="submit",
        features=features,
    )
    lineage_dir = os.path.join(args.out, "lineage")
    n_lineage = (
        spark.read.parquet(lineage_dir).count() if os.path.exists(lineage_dir) else 0
    )
    print(json.dumps({"ok": True, "n_lineage": n_lineage, **stats}))
    spark.stop()


if __name__ == "__main__":
    main()
