"""spark-submit entry point for the image+caption dedup pipeline.

Ships per the north rule as:

    python tools/make_pyfiles.py          # -> dist/panako_spark.zip
    spark-submit --py-files dist/panako_spark.zip jobs/dedup_job.py \\
        --images  /path/to/images_parquet_or_iceberg \\
        --store   /path/to/checkpoint_root \\
        --output  /path/to/clusters_out \\
        [--synthetic 500]   # generate a seeded corpus instead of --images

The SparkSession comes from spark-submit's conf plus the pipeline's
execution settings (session.EXECUTION_CONF, the same ones get_spark
applies): the job sets no master, so a local run names one too
(`spark-submit --master local[4] ...`).
The job is resumable: re-submitting with the same --store resumes at the
first incomplete stage.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

# local `python jobs/dedup_job.py` runs: put the repo root on sys.path
# (under spark-submit --py-files the zip provides the package instead)
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--images", help="input parquet path (image_id, bytes, "
                                     "w, h, fmt, caption, phash)")
    ap.add_argument("--synthetic", type=int, default=0,
                    help="generate a deterministic corpus of N base images")
    ap.add_argument("--store", required=True, help="checkpoint root")
    ap.add_argument("--output", help="where to write clusters (default: "
                                     "inside --store)")
    ap.add_argument("--seed", type=int, default=1234)
    ap.add_argument("--set", action="append", default=[], metavar="KEY=VAL",
                    dest="overrides",
                    help="override any PanakoConfig field (repeatable), "
                         "e.g. --set query_range=3 --set "
                         "fallback_to_hist=true — the reference's "
                         "KEY=value CLI surface (Panako.java:247-268)")
    ap.add_argument("--backend", default="auto",
                    choices=["auto", "parquet", "iceberg"],
                    help="checkpoint backend (iceberg requires a "
                         "configured spark.sql.catalog; auto probes)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from panako_spark.session import EXECUTION_CONF

    b = SparkSession.builder.appName("panako-dedup")
    for k, v in EXECUTION_CONF.items():
        b = b.config(k, v)
    spark = b.getOrCreate()

    from panako_spark.io.checkpoint import CheckpointStore
    from panako_spark.pipeline import run_pipeline

    if args.synthetic:
        if args.synthetic >= 2000:
            # cluster-parallel deterministic generation (content is
            # per-base-index seeded, independent of partitioning)
            import os

            from panako_spark.data.synth import write_corpus_spark

            path = os.path.join(args.store, "_synthetic_input")
            write_corpus_spark(spark, path, args.synthetic,
                               dup_fraction=0.3, seed=args.seed)
            images = spark.read.parquet(path)
        else:
            from panako_spark.data.synth import (
                generate_corpus, rows_to_pandas,
            )

            rows, _ = generate_corpus(args.synthetic, dup_fraction=0.3,
                                      seed=args.seed)
            images = spark.createDataFrame(rows_to_pandas(rows))
    elif args.images:
        images = spark.read.parquet(args.images)
    else:
        ap.error("one of --images / --synthetic is required")

    from panako_spark.config import config_with_overrides

    cfg = config_with_overrides(args.overrides)
    store = CheckpointStore(args.store, backend=args.backend)
    t0 = time.monotonic()
    res = run_pipeline(spark, images, store, cfg)
    n_clusters = res.clusters.count()
    if args.output:
        res.clusters.write.mode("overwrite").parquet(args.output)
    out = {"elapsed_s": round(time.monotonic() - t0, 1),
           "cluster_rows": n_clusters,
           "dup_pairs": res.dup_pairs.count(),
           # the execution settings in effect after the run: the ones
           # perfbench's sessions plan under (session.EXECUTION_CONF)
           "session": {k: spark.conf.get(k) for k in EXECUTION_CONF},
           "stats": {k: v for k, v in res.stats.items()
                     if not hasattr(v, "items")} | {
               k: dict(v) for k, v in res.stats.items()
               if hasattr(v, "items")}}
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
