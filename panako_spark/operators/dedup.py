"""Document-dedup operator family over the `documents` table.

The distributed MinHash/SimHash signature computation reused from the
caption pipeline (kernels are shared), exposed as standalone operators a
training-data pipeline would run.

Signature VALUES are not expressible in ANSI SQL (splitmix64 wrapping
arithmetic), but the operators are still fully oracle-checkable:
candidates come from the signature LSH bands (the scale mechanism under
test) and the OUTPUT filter is the exact shingle-set Jaccard, which
DuckDB computes identically — so the driver compare passes iff the
banding achieves full recall on the true pair set (measured: every
J>=0.5 pair on the test corpora sits at J>=0.89 and collides in both
MinHash and SimHash bands; the check is deterministic because every
hash seed is fixed).
"""

from __future__ import annotations

from typing import Callable, Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from panako_spark.config import PanakoConfig
from panako_spark.kernels.minhash import (
    band_keys, hash_shingles, minhash_signature_batch, token_shingles,
)
from panako_spark.kernels.simhash import simhash_band_keys, simhash_batch
from panako_spark.stages.candidates import pairs_from_keys

DOC_JACCARD_THRESHOLD = 0.5  # docs table near-dups are near-verbatim;
#                              decoupled from the caption-channel knob
#                              (config.minhash_jaccard_threshold) and
#                              shared with the DuckDB oracle


def _band_candidates(spark: SparkSession, sf_dir: str, cfg: PanakoConfig,
                     bands: Callable[[list, PanakoConfig], np.ndarray]
                     ) -> DataFrame:
    """documents -> candidate (id_a, id_b) pairs sharing a band key.
    `bands` maps a batch's shingle-hash arrays to (n, bands) int64 keys;
    one vectorized mapInPandas pass (Arrow batches, batched NumPy
    kernels) emits flat (image_id, key) rows, one per document and
    band."""

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in it:
            lists = [hash_shingles(token_shingles(t or "",
                                                  cfg.minhash_shingle))
                     for t in batch["text"]]
            keys = bands(lists, cfg)
            yield pd.DataFrame({
                "image_id": np.repeat(batch["doc_id"].to_numpy("int64"),
                                      keys.shape[1]),
                "key": keys.ravel()})

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    keyed = docs.select("doc_id", "text").mapInPandas(
        fn, "image_id long, key long")
    return pairs_from_keys(keyed, cfg.band_pair_cap)[0]


def _exact_jaccard_verify(spark: SparkSession, sf_dir: str,
                          cand: DataFrame, threshold: float) -> DataFrame:
    """Candidate pairs -> (id_a, id_b, jaccard) with the EXACT shingle
    Jaccard; integer set sizes divide to the identical double the
    DuckDB oracle computes. The shingle arrays use the oracle's exact
    SQL semantics (token 3-grams, split on single space) and are built
    JVM-side. Only the (tiny) candidate set joins them — the full
    shingle relation never self-joins here."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    arrs = (docs.withColumn("_t", F.split("text", " "))
            .where(F.size("_t") >= 3)
            .select("doc_id", F.array_distinct(F.expr(
                "transform(sequence(0, size(_t) - 3), "
                "i -> concat_ws(' ', _t[i], _t[i+1], _t[i+2]))"))
                .alias("sh")))
    a = arrs.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("_sa"))
    b = arrs.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("_sb"))
    inter = F.size(F.array_intersect("_sa", "_sb"))
    return (cand.join(a, "id_a").join(b, "id_b")
            .withColumn("jaccard", inter / (F.size("_sa") + F.size("_sb")
                                            - inter))
            .where(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard"))


def _minhash_bands(lists: list[np.ndarray], cfg: PanakoConfig) -> np.ndarray:
    return band_keys(minhash_signature_batch(lists, cfg), cfg)


def _simhash_bands(lists: list[np.ndarray], cfg: PanakoConfig) -> np.ndarray:
    return simhash_band_keys(simhash_batch(lists), cfg)


def minhash_dup_pairs(spark: SparkSession, sf_dir: str,
                      cfg: PanakoConfig | None = None,
                      threshold: float = DOC_JACCARD_THRESHOLD) -> DataFrame:
    """MinHash-LSH near-dup pairs on documents — the scale path that the
    exact ngram_jaccard_pairs oracles: MinHash band candidates, filtered
    on the exact shingle Jaccard (module docstring)."""
    cfg = cfg or PanakoConfig()
    cand = _band_candidates(spark, sf_dir, cfg, _minhash_bands)
    return _exact_jaccard_verify(spark, sf_dir, cand, threshold)


def simhash_dup_pairs(spark: SparkSession, sf_dir: str,
                      cfg: PanakoConfig | None = None,
                      threshold: float = DOC_JACCARD_THRESHOLD) -> DataFrame:
    """SimHash near-dup pairs on documents: SimHash bit-band candidates,
    filtered on the exact shingle Jaccard (module docstring). There is
    no Hamming gate: high-J pairs can sit at Hamming 7-10."""
    cfg = cfg or PanakoConfig()
    cand = _band_candidates(spark, sf_dir, cfg, _simhash_bands)
    return _exact_jaccard_verify(spark, sf_dir, cand, threshold)
