"""Store-maintenance operators: the reference's KV-store surface mapped
to checkpoint tables.

Like the reference's operators over PanakoStorageKV, these never touch
storage directly: every write, append, delete and drop goes through
io.checkpoint.CheckpointStore, which alone picks the backend (Iceberg or
parquet), stamps manifests and checks the extraction fingerprint.

  S7 delete  — exact-row delete via cursor (PanakoStorageKV.java:231-277;
               note the reference reads storeQueue there, a known bug we
               do NOT reproduce) -> CheckpointStore.delete_ids per table
               (Iceberg DELETE WHERE, or the parquet anti-join rewrite)
  S8 clear   — drop whole DB dir (PanakoStorageKV.java:490-506)
               -> CheckpointStore.drop per table
  Q19        — hasResource skip: don't re-extract already-stored ids
               (Store.java:119-127) -> left-anti join + append, the
               idempotent incremental-store path
  Q16        — top-k results per query (PanakoStrategy.java:481-495)
  S9         — store statistics (PanakoStorageKV.java:382-467) over OUR
               prints/signatures tables
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from panako_spark.config import PanakoConfig
from panako_spark.io.checkpoint import CheckpointStore, local_frame
from panako_spark.stages.extract import run_extract, split_prints, \
    split_signatures


def delete_resources(spark: SparkSession, store: CheckpointStore,
                     image_ids: list[str]) -> None:
    """S7: remove all prints/signatures of the given ids from whichever
    of the two tables has a complete checkpoint."""
    ids_df = local_frame(spark, [(i,) for i in image_ids], "image_id string")
    for table in ("prints", "signatures"):
        if store.is_complete(table):
            store.delete_ids(spark, table, ids_df)


def clear(store: CheckpointStore, tables: list[str] | None = None,
          spark: SparkSession | None = None) -> None:
    """S8: drop checkpoint tables (whole-store clear when tables=None).
    Pass `spark` when the store may be Iceberg-backed (DROP TABLE needs a
    session); the parquet fallback is pure filesystem."""
    names = tables or ["extracted", "prints", "signatures", "verified",
                       "fused_pairs", "tile_pairs", "dup_pairs", "clusters"]
    for t in names:
        store.drop(t, spark=spark)


def store_incremental(spark: SparkSession, images: DataFrame,
                      store: CheckpointStore, cfg: PanakoConfig) -> dict:
    """Q19: extract and append ONLY images not already stored.

    The left-anti join touches just the id column of the existing
    signatures table (column pruning keeps the scan narrow); re-running
    with the same input is a no-op — the idempotent-resume property the
    reference gets from hasResource."""
    fp = cfg.extraction_fingerprint()
    have_sig = store.is_complete("signatures")
    iid_offset = 0
    if have_sig:
        # refuse to append prints extracted under a different config or
        # table layout — a mixed-format store's cross-boundary pairs
        # silently never match
        store.check_config_fp("signatures", fp)
        store.check_config_fp("prints", fp)
        existing_sig = store.read(spark, "signatures")
        existing = existing_sig.select("image_id")
        new_images = images.join(existing, "image_id", "left_anti")
        # shift the new batch's minted ids above the store's max so
        # appends stay collision-free by construction (one narrow
        # max() over parquet column stats — cheap)
        row = existing_sig.agg(F.max("iid").alias("m")).first()
        iid_offset = int(row["m"]) + 1 if row["m"] is not None else 0
    else:
        new_images = images
    # one decode pass feeds the count and both writes (same pattern as
    # pipeline.materialize_extract: never write the nested intermediate)
    extracted = run_extract(new_images, cfg, iid_offset=iid_offset).persist()
    try:
        new_prints = split_prints(extracted)
        new_sigs = split_signatures(extracted)
        # count + print volume in ONE action on the cached extract — no
        # read-back re-scan of the stored tables (that extra job per call
        # was pure driver-serial cost)
        m = extracted.agg(F.count("*").alias("n"),
                          F.coalesce(F.sum(F.when(F.col("err").isNull(),
                                                  F.col("n_prints"))),
                                     F.lit(0)).alias("np")).first()
        n_new, n_new_prints = int(m["n"]), int(m["np"])
        if n_new == 0:
            return {"new_images": 0}
        # prints first: signatures is the hasResource index, so it only
        # grows once the prints it stands for are stored
        for df_, t, n in ((new_prints, "prints", n_new_prints),
                          (new_sigs, "signatures", n_new)):
            if have_sig:
                store.append(df_, t, n, config_fp=fp)
            else:
                store.write(df_, t, config_fp=fp, rows=n)
    finally:
        extracted.unpersist()
    return {"new_images": n_new}


def topk_matches(verified: DataFrame, k: int) -> DataFrame:
    """Q16: best-k refs per query by (score desc, id) — deterministic."""
    w = Window.partitionBy("id_a").orderBy(F.col("score").desc(),
                                           F.col("id_b").asc())
    return (verified.withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= k))


def store_statistics(spark: SparkSession, store: CheckpointStore) -> DataFrame:
    """S9: totals + min/max/avg prints-per-image over the stored tables."""
    prints = store.read(spark, "prints")
    sigs = store.read(spark, "signatures")
    per_img = prints.groupBy("image_id").agg(F.count("*").alias("n"))
    return (per_img.agg(
        F.count("*").alias("n_images"),
        F.sum("n").alias("n_prints"),
        F.min("n").alias("min_prints"),
        F.max("n").alias("max_prints"),
        F.avg("n").alias("avg_prints"))
        .crossJoin(sigs.agg(
            F.count(F.when(F.col("err").isNotNull(), 1)).alias("n_errors"))))


def same_images(bytes_a: bytes, meta_a: tuple, bytes_b: bytes, meta_b: tuple,
                cfg: PanakoConfig):
    """Q17 `same` (Same.java:65-85): pairwise in-memory compare of two
    images — extract both, probe A against B's prints, verify. Returns a
    MatchResult or None. Pure-kernel path, no Spark session needed."""
    from panako_spark.kernels import codec
    from panako_spark.kernels.matcher import GoldenMatcher

    (w_a, h_a, fmt_a), (w_b, h_b, fmt_b) = meta_a, meta_b
    gm = GoldenMatcher(cfg)
    gm.store_image("b", codec.to_gray(codec.decode(bytes_b, w_b, h_b, fmt_b)))
    from panako_spark.kernels.landmarks import extract_prints
    h, t1, f1 = extract_prints(
        codec.to_gray(codec.decode(bytes_a, w_a, h_a, fmt_a)), cfg)
    return gm.query_prints(h, t1, f1, avoid=set()).get("b")
