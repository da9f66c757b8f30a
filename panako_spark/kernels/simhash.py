"""SimHash (64-bit) over caption token shingles + banded candidate keys.

north_star: "SimHash over caption token shingles". Classic Charikar
construction: per-shingle 64-bit hash votes +1/-1 on each bit; the sign of
the per-bit sum is the fingerprint bit. Near-duplicates differ in few bits
(Hamming distance), candidates come from exact-match on bit bands.
"""

from __future__ import annotations

import numpy as np

from panako_spark.config import PanakoConfig

_BITS = np.arange(64, dtype=np.uint64)


def simhash(shingle_hashes: np.ndarray) -> np.int64:
    """uint64 shingle hashes -> 64-bit SimHash fingerprint (int64)."""
    if shingle_hashes.size == 0:
        return np.int64(0)
    bits = (shingle_hashes[:, None] >> _BITS[None, :]) & np.uint64(1)
    votes = 2 * bits.sum(axis=0).astype(np.int64) - shingle_hashes.size
    fp = np.uint64(0)
    fp = ((votes > 0).astype(np.uint64) << _BITS).sum(dtype=np.uint64)
    return fp.astype(np.int64)


def simhash_batch(hash_lists: list[np.ndarray]) -> np.ndarray:
    """Batched: list of shingle-hash arrays -> (n,) int64 fingerprints."""
    return np.array([simhash(h) for h in hash_lists], dtype=np.int64)


def hamming(a: int, b: int) -> int:
    return int(bin((int(a) & 0xFFFFFFFFFFFFFFFF)
                   ^ (int(b) & 0xFFFFFFFFFFFFFFFF)).count("1"))


def simhash_band_keys(fp: np.ndarray, cfg: PanakoConfig) -> np.ndarray:
    """(n,) int64 fingerprints -> (n, simhash_bands) int64 band keys.

    Band key = (band_index << bits_per_band) | band_bits, so bands don't
    collide across positions.
    """
    fp = np.atleast_1d(fp).astype(np.int64).view(np.uint64)
    bpb = cfg.simhash_bits_per_band
    mask = np.uint64((1 << bpb) - 1)
    keys = np.empty((fp.size, cfg.simhash_bands), dtype=np.int64)
    for b in range(cfg.simhash_bands):
        band_bits = (fp >> np.uint64(b * bpb)) & mask
        keys[:, b] = ((np.uint64(b) << np.uint64(bpb)) | band_bits).astype(np.int64)
    return keys
