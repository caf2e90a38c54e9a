"""Cluster job entrypoint — the ``spark-submit --py-files`` launch path
required by the north rule.

Usage (multi-executor cluster):

    python scripts/build_pyfiles.py                       # -> dist/engine.zip
    spark-submit \
        --master yarn --deploy-mode cluster \
        --num-executors 4N --executor-cores 4 --executor-memory 8g \
        --py-files dist/engine.zip \
        scripts/submit_job.py \
        --input <pages table/path> --output <dir> [--scan-root ROOT]

Local sandbox equivalent (same code path, local master):

    spark-submit --master 'local[8]' --py-files dist/engine.zip \
        scripts/submit_job.py --input <pages.parquet> \
        --output /tmp/dedup_out

The job builds NO SparkSession config of its own beyond app name —
master/cores/memory come from spark-submit, exactly as
mediaduplicatefinder_spark.session documents. Input may be a path
(parquet) or a catalog table name (Iceberg: ``--table db.pages``).
Outputs: clusters/ pairs/ metrics/ parquet under --output, plus a
RESULT json line on stdout (docs/sec for scaling measurements).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    src = ap.add_mutually_exclusive_group(required=True)
    src.add_argument("--input", help="pages parquet path")
    src.add_argument("--table", help="pages catalog table (Iceberg)")
    ap.add_argument("--output", required=True)
    ap.add_argument("--scan-root", default="")
    ap.add_argument("--no-html", action="store_true",
                    help="input text column is already extracted")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    # master/executors/memory come from spark-submit; --py-files ships
    # the package, so no PYTHONPATH injection is needed here
    spark = SparkSession.builder.appName("mdf-dedup").getOrCreate()

    from mediaduplicatefinder_spark.config import DEFAULT_CONFIG
    from mediaduplicatefinder_spark.pipeline import run_dedup

    pages = (
        spark.read.table(args.table) if args.table
        else spark.read.parquet(args.input)
    )
    t0 = time.time()
    res = run_dedup(
        spark, pages, DEFAULT_CONFIG,
        scan_root=args.scan_root, use_html=not args.no_html,
    )
    res.clusters.write.mode("overwrite").parquet(f"{args.output}/clusters")
    res.pairs.write.mode("overwrite").parquet(f"{args.output}/pairs")
    res.metrics.write.mode("overwrite").json(f"{args.output}/metrics")
    wall = time.time() - t0
    m = spark.read.json(f"{args.output}/metrics").collect()[0]
    print(json.dumps({
        "wall_sec": round(wall, 2),
        "n_pages": int(m.n_pages),
        "docs_per_sec": round(int(m.n_pages) / wall, 1),
        "n_similar_pairs": int(m.n_similar_pairs),
        "n_exact_members": int(m.n_exact_members),
    }))
    res.cleanup()
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
