"""Extract stage: images table -> prints + signatures, one decode pass.

Reference analog: store-side extraction (PanakoStrategy.toFingerprints,
PanakoStrategy.java:181-239) — ffmpeg decode -> spectral transform ->
peaks -> triplet hashes. Here: `mapInPandas` over Arrow record batches;
each batch is decoded and processed in NumPy (E1-E8 + MinHash + SimHash +
rolling-hash substring fingerprints), NO per-row Python in the Spark plan.

One pass produces one row per image carrying the print arrays AND the
signatures; the caller splits it into
  prints(image_id, hash, t1, f1)           via explode (JVM-side)
  signatures(image_id, minhash, simhash, caption_hash, ...)
so image bytes are read and decoded exactly once — at 100 TB the scan is
the dominant cost and must not run twice.

Per-row invariants (BASELINE.json input_hint) are enforced here:
decode -> re-encode -> decode PSNR (exact for the lossless codecs) and
caption pass-through equality; failures set err and drop out of matching.

Lineage (partition_id, input_count, signature_count, elapsed_ms) rides on
two extra int columns aggregated after the pass (north_rule).
"""

from __future__ import annotations

import time
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
import pyspark.sql.functions as F
import pyspark.sql.types as T

from panako_spark.config import PanakoConfig
from panako_spark.kernels import codec
from panako_spark.kernels.landmarks import (
    extract_prints_with_tiles,
)
from panako_spark.kernels.minhash import (
    band_keys, hash_shingles, minhash_signature_batch, token_shingles,
)
from panako_spark.kernels.simhash import simhash_band_keys, simhash_batch
from panako_spark.kernels.suffix import fingerprints_batch

EXTRACT_SCHEMA = T.StructType([
    T.StructField("image_id", T.StringType()),
    T.StructField("iid", T.LongType()),
    T.StructField("w", T.IntegerType()),
    T.StructField("h", T.IntegerType()),
    T.StructField("phash", T.LongType()),
    T.StructField("n_prints", T.IntegerType()),
    T.StructField("rescued", T.BooleanType()),
    T.StructField("n_std", T.IntegerType()),
    T.StructField("hashes", T.ArrayType(T.LongType())),
    T.StructField("t1s", T.ArrayType(T.IntegerType())),
    T.StructField("f1s", T.ArrayType(T.IntegerType())),
    T.StructField("minhash", T.ArrayType(T.LongType())),
    T.StructField("mh_bands", T.ArrayType(T.LongType())),
    T.StructField("simhash", T.LongType()),
    T.StructField("sh_bands", T.ArrayType(T.LongType())),
    T.StructField("caption_hash", T.LongType()),
    T.StructField("caption_len", T.IntegerType()),
    T.StructField("substr_fps", T.ArrayType(T.LongType())),
    # crop-rescue tile probes (query-time ephemera, flat-concatenated
    # across tiles with tile_ids marking membership; never checkpointed
    # as part of the stored print format)
    T.StructField("tile_hashes", T.ArrayType(T.LongType())),
    T.StructField("tile_t1s", T.ArrayType(T.IntegerType())),
    T.StructField("tile_f1s", T.ArrayType(T.IntegerType())),
    T.StructField("tile_ids", T.ArrayType(T.IntegerType())),
    T.StructField("psnr_ok", T.BooleanType()),
    T.StructField("err", T.StringType()),
    T.StructField("_pid", T.IntegerType()),
    T.StructField("_elapsed_ms", T.LongType()),
])


def _caption_hash64(caption: str) -> int:
    import hashlib

    d = hashlib.blake2b(caption.encode("utf-8"), digest_size=8).digest()
    return int(np.frombuffer(d, dtype=np.uint64)[0].astype(np.int64))


def make_extract_fn(cfg: PanakoConfig):
    """Build the mapInPandas kernel (cfg is closed over and shipped)."""

    def extract_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId() if TaskContext.get() else -1
        for batch in it:
            t0 = time.monotonic()
            n = len(batch)
            out: dict[str, list] = {k: [] for k in (
                "image_id", "iid", "w", "h", "phash", "n_prints",
                "rescued", "n_std", "hashes",
                "t1s", "f1s", "tile_hashes", "tile_t1s", "tile_f1s",
                "tile_ids", "psnr_ok", "err")}
            shingle_lists: list[np.ndarray] = []
            cap_hashes: list[int] = []
            cap_lens: list[int] = []
            caps: list[str] = []
            for row in batch.itertuples(index=False):
                err = None
                psnr_ok = True
                hh = np.zeros(0, np.int64)
                tt = np.zeros(0, np.int32)
                ff = np.zeros(0, np.int32)
                tiles: list = []
                rescued = False
                n_std = 0
                try:
                    img = codec.decode(bytes(row.bytes), int(row.w),
                                       int(row.h), row.fmt)
                    # per-row invariant: decode -> re-encode -> decode
                    # (zlib level 1: same lossless guarantee, 4x faster)
                    rt = codec.decode(codec.encode(img, row.fmt, level=1),
                                      int(row.w), int(row.h), row.fmt)
                    psnr_ok = codec.psnr(img, rt) >= 40.0
                    # one raster pass yields the stored prints AND the
                    # crop-rescue tile probes (profiles shared)
                    (hh, tt, ff), tiles, rescued, n_std = \
                        extract_prints_with_tiles(codec.to_gray(img), cfg)
                except Exception as e:  # noqa: BLE001 — one corrupt row
                    # must never kill a 10^12-row job; the err column and
                    # lineage carry the failure
                    err = f"{type(e).__name__}: {e}"
                    psnr_ok = False
                out["image_id"].append(row.image_id)
                out["iid"].append(int(row.iid))
                out["w"].append(int(row.w))
                out["h"].append(int(row.h))
                out["phash"].append(int(row.phash))
                out["n_prints"].append(int(hh.size))
                out["rescued"].append(bool(rescued))
                out["n_std"].append(int(n_std))
                out["hashes"].append(hh)
                out["t1s"].append(tt)
                out["f1s"].append(ff)
                if tiles:
                    out["tile_hashes"].append(
                        np.concatenate([t[1] for t in tiles]))
                    out["tile_t1s"].append(
                        np.concatenate([t[2] for t in tiles]))
                    out["tile_f1s"].append(
                        np.concatenate([t[3] for t in tiles]))
                    out["tile_ids"].append(np.concatenate(
                        [np.full(t[1].size, t[0], np.int32) for t in tiles]))
                else:
                    out["tile_hashes"].append(np.zeros(0, np.int64))
                    out["tile_t1s"].append(np.zeros(0, np.int32))
                    out["tile_f1s"].append(np.zeros(0, np.int32))
                    out["tile_ids"].append(np.zeros(0, np.int32))
                out["psnr_ok"].append(bool(psnr_ok))
                out["err"].append(err)
                cap = row.caption or ""
                shingle_lists.append(
                    hash_shingles(token_shingles(cap, cfg.minhash_shingle)))
                cap_hashes.append(_caption_hash64(cap))
                cap_lens.append(len(cap))
                caps.append(cap)
            # one vectorized hashing pass for the whole batch's captions
            substrs = [fp.astype(np.int64).tolist() for fp in
                       fingerprints_batch(caps, cfg.substring_min_len)]
            sigs = minhash_signature_batch(shingle_lists, cfg)
            sims = simhash_batch(shingle_lists)
            mh_bands = band_keys(sigs.view(np.uint64), cfg)
            sh_bands = simhash_band_keys(sims, cfg)
            elapsed = int((time.monotonic() - t0) * 1000)
            yield pd.DataFrame({
                **out,
                "minhash": [s.astype(np.int64) for s in sigs],
                "mh_bands": list(mh_bands),
                "simhash": sims,
                "sh_bands": list(sh_bands),
                "caption_hash": np.array(cap_hashes, np.int64),
                "caption_len": np.array(cap_lens, np.int32),
                "substr_fps": substrs,
                "psnr_ok": out["psnr_ok"],
                "err": out["err"],
                "_pid": np.full(n, pid, np.int32),
                "_elapsed_ms": np.full(n, elapsed, np.int64),
            })

    return extract_batches


def run_extract(images: DataFrame, cfg: PanakoConfig,
                iid_offset: int = 0) -> DataFrame:
    """images(image_id, bytes, w, h, fmt, caption, phash) -> extracted.

    Mints a dictionary-encoded int64 `iid` per image at ingest via
    monotonically_increasing_id() — unique BY CONSTRUCTION (partition id
    in the high bits, per-partition counter in the low bits), no
    hash-collision risk at any cardinality, and zero extra shuffle: the
    id is a projection on the scan. Downstream the verify shuffle rides
    these 8-byte ids instead of strings (candidates.landmark_hits), and
    the id<->string map persists in the prints/signatures checkpoints.
    `iid_offset` shifts a later batch's ids above an existing store's
    max iid so incremental appends stay collision-free (store_ops)."""
    if iid_offset >= (1 << 62):
        raise ValueError(f"iid_offset {iid_offset} too close to int64 "
                         "overflow; compact the store's id space")
    return (images
            .withColumn("iid",
                        F.monotonically_increasing_id() + F.lit(iid_offset))
            .select("image_id", "iid", "bytes", "w", "h", "fmt", "caption",
                    "phash")
            .mapInPandas(make_extract_fn(cfg), EXTRACT_SCHEMA))


def split_prints(extracted: DataFrame) -> DataFrame:
    """Extracted -> prints(image_id, iid, hash, t1, f1, is_std)
    (JVM-side posexplode).

    `is_std` marks the standard-window prints (position < n_std;
    prints_with_rescue emits them first) — the tile channel's index
    scope. Dense rescue extras (is_std=false) serve the landmark
    channel only (candidates.tile_hits / the kernel docstring carry
    the measured rationale)."""
    pz = F.posexplode(F.arrays_zip(F.col("hashes").alias("hash"),
                                   F.col("t1s").alias("t1"),
                                   F.col("f1s").alias("f1")))
    return (extracted.where(F.col("err").isNull())
            .select("image_id", "iid", "n_std", pz.alias("pos", "p"))
            .select("image_id", "iid",
                    F.col("p.hash").alias("hash"),
                    F.col("p.t1").alias("t1"),
                    F.col("p.f1").alias("f1"),
                    (F.col("pos") < F.col("n_std")).alias("is_std")))


def split_tile_prints(extracted: DataFrame) -> DataFrame:
    """Extracted -> tile_prints(image_id, iid, tile_id, hash, t1, f1).

    Query-side rows for the crop-rescue channel (JVM-side explode of the
    flat-concatenated tile arrays); never persisted — the stored print
    format is unchanged."""
    z = F.explode(F.arrays_zip(F.col("tile_hashes").alias("hash"),
                               F.col("tile_t1s").alias("t1"),
                               F.col("tile_f1s").alias("f1"),
                               F.col("tile_ids").alias("tile_id"))
                  ).alias("p")
    return (extracted.where(F.col("err").isNull())
            .select("image_id", "iid", z)
            .select("image_id", "iid",
                    F.col("p.tile_id").alias("tile_id"),
                    F.col("p.hash").alias("hash"),
                    F.col("p.t1").alias("t1"),
                    F.col("p.f1").alias("f1")))


def split_signatures(extracted: DataFrame) -> DataFrame:
    return extracted.select(
        "image_id", "iid", "minhash", "mh_bands", "simhash", "sh_bands",
        "caption_hash", "caption_len", "substr_fps", "n_prints",
        "rescued", "phash", "psnr_ok", "err")


def lineage_from_extracted(extracted: DataFrame, stage: str,
                           run_id: str) -> DataFrame:
    return (extracted.groupBy(F.col("_pid").alias("partition_id"))
            .agg(F.count("*").alias("input_count"),
                 F.count(F.when(F.col("err").isNull(), 1))
                 .alias("signature_count"),
                 F.sum("n_prints").alias("band_count"),
                 F.max("_elapsed_ms").alias("elapsed_ms"))
            .select(F.lit(stage).alias("stage"), "partition_id",
                    "input_count", "signature_count", "band_count",
                    "elapsed_ms", F.lit(run_id).alias("run_id")))
