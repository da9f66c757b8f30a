"""Triplet landmark enumeration + scale-invariant 64-bit hash packing.

Reference semantics:
  * E6 — all ordered event-point triplets (p1, p2, p3) with consecutive
    time gaps tDiff in [min_time_distance, max_time_distance] and
    |fDiff| in [min_freq_distance, max_freq_distance]
    (packEventPointsIntoFingerprints,
    PanakoEventPointProcessor.java:239-283; bounds Key.java:296-310)
  * E7 — 64-bit hash from *ratios and orderings* of the triplet so the
    hash survives time-stretch / frequency shift
    (PanakoFingerprint.java:231-273). Bit layout (high to low), same
    field order as the reference:
        [6b] round(64 * (t2-t1)/(t3-t1))
        [1b] f1 > f2   [1b] f2 > f3   [1b] f3 > f1
        [1b] m1 > m2   [1b] m2 > m3   [1b] m3 > m1
        [1b] (t3-t2) > (t2-t1)
        [1b] |f3-f2| > |f2-f1|
        [8b] f1 >> 2
        [6b] |f2-f1| >> 1
        [6b] |f3-f2| >> 1
    The low bits carry fine frequency deltas, so near-identical content
    lands within ±query_range of the stored hash — which is exactly why
    the reference probes [h-2, h+2] (Q1, Key.java:354).

    Shift amounts differ from the reference's (f1>>5, df>>2 over 512
    bins): our field has 128 bins, and the coarser quantization measurably
    collapsed the hash space — random image pairs shared >=10 hashes and
    candidate generation degenerated toward all-pairs (11% of pairs
    passing the Q5 gate vs 1.1% with these shifts, at equal recall once
    the phash channel is in the union).

The stored projection per print is (hash, t1, f1), matching the
reference's KV value layout (PanakoStorageKV.java:204-228).
"""

from __future__ import annotations

import numpy as np

from panako_spark.config import PanakoConfig


def _valid_pairs(t: np.ndarray, f: np.ndarray, cfg: PanakoConfig) -> np.ndarray:
    """Boolean (n, n) matrix: pair (i, j) satisfies the E6 gap bounds."""
    dt = t[None, :].astype(np.int64) - t[:, None]
    df = np.abs(f[None, :].astype(np.int64) - f[:, None])
    return (
        (dt >= cfg.min_time_distance)
        & (dt <= cfg.max_time_distance)
        & (df >= cfg.min_freq_distance)
        & (df <= cfg.max_freq_distance)
    )


def enumerate_triplets(t: np.ndarray, f: np.ndarray, cfg: PanakoConfig):
    """-> (i, j, k) index arrays of valid triplets (windowed, bounded).

    Peaks must be sorted by (t, f). The O(n^3) is bounded exactly like the
    reference's early-break windows (PanakoEventPointProcessor.java:258,271):
    only pairs within max_time_distance are considered.
    """
    n = t.size
    if n < 3:
        z = np.zeros(0, np.int64)
        return z, z, z
    valid = _valid_pairs(t, f, cfg)
    pi, pj = np.nonzero(valid)
    if pi.size == 0:
        z = np.zeros(0, np.int64)
        return z, z, z
    # compose (i->j) with (j->k), fully vectorized: pair p = (i, j)
    # fans out to every successor pair (j, k); successors of node j are
    # the contiguous run pi == j of the (sorted-by-pi) pair list
    succ_start = np.searchsorted(pi, np.arange(n), side="left")
    succ_end = np.searchsorted(pi, np.arange(n), side="right")
    deg = (succ_end - succ_start)[pj]          # successors per pair
    total = int(deg.sum())
    if total == 0:
        z = np.zeros(0, np.int64)
        return z, z, z
    lefts = np.repeat(pi, deg)
    mids = np.repeat(pj, deg)
    starts = np.cumsum(deg) - deg              # output offset per pair
    within = np.arange(total, dtype=np.int64) - np.repeat(starts, deg)
    rights = pj[np.repeat(succ_start[pj], deg) + within]
    return lefts, mids, rights


def pack_hashes(
    t1, f1, m1, t2, f2, m2, t3, f3, m3
) -> np.ndarray:
    """Vectorized E7 bit packing -> int64 hashes."""
    t1 = t1.astype(np.int64); t2 = t2.astype(np.int64); t3 = t3.astype(np.int64)
    f1 = f1.astype(np.int64); f2 = f2.astype(np.int64); f3 = f3.astype(np.int64)
    span = np.maximum(t3 - t1, 1)
    ratio_t = np.clip(np.rint(64.0 * (t2 - t1) / span).astype(np.int64), 0, 63)
    df21 = np.abs(f2 - f1)
    df32 = np.abs(f3 - f2)
    h = ratio_t
    for bit in (f1 > f2, f2 > f3, f3 > f1, m1 > m2, m2 > m3, m3 > m1,
                (t3 - t2) > (t2 - t1), df32 > df21):
        h = (h << 1) | bit.astype(np.int64)
    h = (h << 8) | ((f1 >> 2) & 0xFF)
    h = (h << 6) | ((df21 >> 1) & 0x3F)
    h = (h << 6) | ((df32 >> 1) & 0x3F)
    return h


def pack_hashes_olaf(
    t1, f1, m1, t2, f2, m2, t3, f3, m3
) -> np.ndarray:
    """E8: the rigid (translation-only) hash layout — Olaf, the
    reference's default strategy (OlafFingerprint.java:154-196).

    Fields (low to high bit):
        [6b]  t3 - t1 (absolute span, NOT a ratio)
        [1b]x6  f1>f2, f2>f3, f3>f1, m1>m2, m2>m3, m3>m1
        [1b]  (t2-t1) > (t3-t2)
        [1b]  |f2-f1| > |f3-f2|
        [8b]  f1 >> 1
        [6b]  |f2-f1| >> 2
        [6b]  |f3-f2| >> 2

    Absolute time/frequency deltas make the hash cheaper and more
    selective than the Panako ratio hash when the content undergoes no
    geometric change (pure noise/re-encode); it does NOT survive
    crop/rescale — that is what the Panako layout's ratios buy. Shifts
    are kept verbatim from the reference (its 512-bin field fills the
    8/6-bit fields; our 128-bin field underfills them, which only makes
    the hash more exact).
    """
    t1 = t1.astype(np.int64); t2 = t2.astype(np.int64); t3 = t3.astype(np.int64)
    f1 = f1.astype(np.int64); f2 = f2.astype(np.int64); f3 = f3.astype(np.int64)
    df21 = np.abs(f2 - f1)
    df32 = np.abs(f3 - f2)
    h = (t3 - t1) & 0x3F
    for shift, bit in ((6, f1 > f2), (7, f2 > f3), (8, f3 > f1),
                       (9, m1 > m2), (10, m2 > m3), (11, m3 > m1),
                       (12, (t2 - t1) > (t3 - t2)), (13, df21 > df32)):
        h = h | (bit.astype(np.int64) << shift)
    h = h | (((f1 >> 1) & 0xFF) << 14)
    h = h | (((df21 >> 2) & 0x3F) << 22)
    h = h | (((df32 >> 2) & 0x3F) << 28)
    return h


def enumerate_pairs(t: np.ndarray, f: np.ndarray, cfg: PanakoConfig):
    """(i, j) index arrays of valid point PAIRS (Olaf's 2-point form,
    OlafEventPointProcessor.packEventPointsIntoFingerprintsTwo)."""
    if t.size < 2:
        z = np.zeros(0, np.int64)
        return z, z
    pi, pj = np.nonzero(_valid_pairs(t, f, cfg))
    return pi.astype(np.int64), pj.astype(np.int64)


def landmarks(t: np.ndarray, f: np.ndarray, m: np.ndarray,
              cfg: PanakoConfig):
    """Peaks -> prints (hash:int64, t1:int32, f1:int32), deduped + capped.

    Dedup mirrors fingerprint equality "same hash and close t1"
    (PanakoFingerprint.java:280-295) tightened to exact (hash, t1, f1)
    row identity — duplicate KV rows carry no extra information.

    cfg.strategy selects the hash layout: "panako" (scale-invariant
    E7) or "olaf" (rigid E8, with cfg.olaf_eps_per_fp = 2 or 3).
    """
    return landmarks_batch([(t, f, m)], cfg)[0]


def landmarks_batch(peaks_list, cfg: PanakoConfig):
    """landmarks() over many peak sets with ONE pack + ONE sort.

    Element i is bit-identical to landmarks(*peaks_list[i], cfg) — the
    per-slice triplet sets are enumerated independently, then hashed in
    one concatenated pack_hashes call and deduped by one global
    lexsort keyed (slice, hash, t1, f1), whose within-slice order is
    exactly the per-slice sort. The extract hot path feeds the full
    image + its crop-rescue tiles (~8-14 slices of ~10-40 peaks) here;
    per-slice, the NumPy dispatch overhead of pack+sort dominated the
    arithmetic ~10x at those sizes."""
    two_point = cfg.strategy == "olaf" and cfg.olaf_eps_per_fp == 2
    packer = pack_hashes_olaf if cfg.strategy == "olaf" else pack_hashes
    idx_i, idx_j, idx_k, sids = [], [], [], []
    empty = (np.zeros(0, np.int64), np.zeros(0, np.int32),
             np.zeros(0, np.int32))
    for sid, (t, f, _m) in enumerate(peaks_list):
        if two_point:
            i, j = enumerate_pairs(t, f, cfg)
            k = j   # the reference stores (e1, e2, e2) in 2-point mode
        else:
            i, j, k = enumerate_triplets(t, f, cfg)
        if i.size:
            idx_i.append(i)
            idx_j.append(j)
            idx_k.append(k)
            sids.append(np.full(i.size, sid, np.int64))
    if not idx_i:
        return [empty for _ in peaks_list]
    offs = np.cumsum([0] + [t.size for t, _f, _m in peaks_list[:-1]])
    cat = np.concatenate
    sid_arr = cat(sids)
    off_per = offs[sid_arr]
    gi = cat(idx_i) + off_per
    gj = cat(idx_j) + off_per
    gk = cat(idx_k) + off_per
    T = cat([t for t, _f, _m in peaks_list])
    Fq = cat([f for _t, f, _m in peaks_list])
    M = cat([m for _t, _f, m in peaks_list])
    h = packer(T[gi], Fq[gi], M[gi], T[gj], Fq[gj], M[gj],
               T[gk], Fq[gk], M[gk])
    t1 = T[gi].astype(np.int64)
    f1 = Fq[gi].astype(np.int64)
    # global sorted-row dedup == per-slice np.unique(rows, axis=0)
    # bit-for-bit (slice id is the outermost key)
    order = np.lexsort((f1, t1, h, sid_arr))
    rows = np.stack([sid_arr[order], h[order], t1[order], f1[order]],
                    axis=1)
    if rows.shape[0] > 1:
        keep = np.empty(rows.shape[0], bool)
        keep[0] = True
        np.any(rows[1:] != rows[:-1], axis=1, out=keep[1:])
        rows = rows[keep]
    bounds = np.searchsorted(rows[:, 0], np.arange(len(peaks_list) + 1))
    out = []
    for sid in range(len(peaks_list)):
        r = rows[bounds[sid]:bounds[sid + 1], 1:]
        if r.shape[0] > cfg.max_prints_per_image:
            # deterministic cap in (t1, hash) order (reference caps
            # hit lists)
            o = np.lexsort((r[:, 0], r[:, 1]))[: cfg.max_prints_per_image]
            r = r[np.sort(o)]
        out.append((r[:, 0].astype(np.int64), r[:, 1].astype(np.int32),
                    r[:, 2].astype(np.int32)))
    return out


def prints_with_rescue(spec: np.ndarray, cfg: PanakoConfig):
    """Peak pick + shingling with the print-density rescue (config.py
    `print_rescue_floor` comment has the full rationale): if the
    standard windows yield a print count too small to ever clear the
    >=10 aligned-hit gates, re-pick with the smaller rescue windows.
    The dense peak set is a superset of the standard one and triplet
    enumeration is exhaustive-in-window, so rescue never loses a hash
    the standard extraction had (modulo the max_prints cap).
    Deterministic in content alone. The store path, the tile channel
    and the golden matcher all extract through this logic — the
    single-spec form here, or the batched form in
    extract_prints_with_tiles, which shares _needs_rescue/_apply_rescue
    verbatim and is bit-identical (goldens asserted at the r5 rewrite)
    — so parity holds by construction.

    Returns (hash, t1, f1, rescued, n_std): the first n_std prints are
    the STANDARD-window pick verbatim, the rest the dense-only extras
    (set-difference on exact (hash, t1, f1) triples). The split exists
    because the two print classes have different index scopes
    downstream (measured at 642 images, split_index_sweep): dense
    extras must sit in the LANDMARK channel's index — the rescued-pair
    recoveries are dense∩dense intersections — but contribute nothing
    through the tile channel that cluster closure doesn't already give,
    while DOUBLING that channel's (dominant) join cost if indexed. So
    candidates.tile_hits and GoldenMatcher.tile_rescue_pairs probe a
    std-prints-only index (`is_std` in the prints checkpoint / the
    matcher's _index_std), and landmark_hits keeps the full set.

    Rescued images trade precision for the added density (their dense
    prints align spuriously more often), so pairs with a rescued side
    are verified at the STRICTER cfg.rescue_min_score gate downstream
    (pipeline + golden matcher) — measured false-pair scores at 642
    images cluster at 8-15 while the rescued true pairs clear 20."""
    from panako_spark.kernels.peaks import find_peaks

    std_peaks = find_peaks(spec, cfg)
    h, t1, f1 = landmarks(*std_peaks, cfg)
    if not _needs_rescue(h.size, cfg.print_rescue_floor, cfg):
        return h, t1, f1, False, h.size
    dense_peaks = find_peaks(
        spec, cfg, windows=(cfg.peak_rescue_time, cfg.peak_rescue_freq))
    return _apply_rescue(std_peaks, dense_peaks, h, t1, f1, cfg)


def _needs_rescue(n_prints: int, floor: int, cfg: PanakoConfig) -> bool:
    """The prints_with_rescue trigger condition, factored out so the
    batched extract path (extract_prints_with_tiles) applies the
    identical rule."""
    return (0 < n_prints < floor
            and (cfg.peak_rescue_time < cfg.max_filter_time
                 or cfg.peak_rescue_freq < cfg.max_filter_freq))


def _apply_rescue(std_peaks, dense_peaks, h, t1, f1, cfg: PanakoConfig):
    """The dense-pick half of prints_with_rescue: given the standard
    peaks/prints and the dense re-pick, cap and merge. Shared verbatim
    by the single-spec and batched extract paths."""
    t_s, f_s, _ = std_peaks
    t_d, f_d, m_d = dense_peaks
    cap = cfg.rescue_max_peaks
    if 0 < cap < t_d.size:
        # Cap the dense pick (config.py `rescue_max_peaks` comment
        # has the measured rationale): force-keep every standard
        # peak — so the peak set, hence the exhaustive-in-window
        # triplet set, stays a superset of the standard one — and
        # fill up to the cap with the strongest dense-only peaks.
        # Pure content rule: both sides of a true pair rank the
        # same spectral peaks the same way.
        std = set(zip(t_s.tolist(), f_s.tolist()))
        is_std = np.fromiter(
            ((int(a), int(b)) in std for a, b in zip(t_d, f_d)),
            dtype=bool, count=t_d.size)
        order = np.lexsort((f_d, t_d, -m_d, ~is_std))
        keep = np.sort(order[:max(cap, int(is_std.sum()))])
        t_d, f_d, m_d = t_d[keep], f_d[keep], m_d[keep]
    hd, td, fd = landmarks(t_d, f_d, m_d, cfg)
    std_set = set(zip(h.tolist(), t1.tolist(), f1.tolist()))
    extra = ~np.fromiter(
        ((int(a), int(b), int(c)) in std_set
         for a, b, c in zip(hd, td, fd)),
        dtype=bool, count=hd.size)
    return (np.concatenate([h, hd[extra]]),
            np.concatenate([t1, td[extra]]).astype(np.int32),
            np.concatenate([f1, fd[extra]]).astype(np.int32),
            True, h.size)


def extract_prints(gray: np.ndarray, cfg: PanakoConfig):
    """Full E1-E7 chain: luma image -> (hash, t1, f1) arrays."""
    from panako_spark.kernels.spectral import spectrogram

    return prints_with_rescue(spectrogram(gray, cfg), cfg)[:3]


def extract_prints_flagged(gray: np.ndarray, cfg: PanakoConfig):
    """extract_prints + the rescue flag and std/dense split:
    (hash, t1, f1, rescued, n_std)."""
    from panako_spark.kernels.spectral import spectrogram

    return prints_with_rescue(spectrogram(gray, cfg), cfg)


def tile_row_ranges(h: int, cfg: PanakoConfig) -> list[tuple[int, int]]:
    """Vertical probe tiles (r0, r1) for the crop-rescue channel.

    The query-side tiling analog of the reference's overlapping monitor
    windows (PanakoStrategy.java:498-510, 25 s steps of 5 s): a stored
    80-95% vertical crop only matches the original when the probed row
    range lands within ~±4 rows / ±6 height of the crop (measured — the
    per-frame profile rfft is boundary-sensitive), so the full image is
    probed at a grid of (offset, height) tiles spanning the synth crop
    parameter space (y0 in [0, 0.2h], ky in [0.8, 0.95]). Grid tuned on
    the 642-image parity corpus: recovers 4 of 9 crop-missed truth pairs
    with 0 new false positives at the score>=tile_min_score gate.
    Degenerate/duplicate ranges (tiny images) are deduped; tile_id is
    the index into this list."""
    out: list[tuple[int, int]] = []
    seen: set[tuple[int, int]] = set()
    for y0f in cfg.tile_probe_offsets:
        for hf in cfg.tile_probe_heights:
            r0 = int(y0f * h)
            r1 = min(h, r0 + int(hf * h))
            if r1 - r0 < 16 or (r0, r1) in seen:
                continue
            seen.add((r0, r1))
            out.append((r0, r1))
    return out


def extract_prints_with_tiles(gray: np.ndarray, cfg: PanakoConfig):
    """One raster pass -> (full prints, [(tile_id, hash, t1, f1), ...],
    rescued, n_std).

    The per-frame column profiles are computed ONCE; each tile is a
    column slice of that matrix (spectral.column_profiles documents the
    bit-exact equivalence with extracting the sliced image), so the
    marginal tile cost is one small rfft + peak pick + shingling — no
    second pass over the pixels. Tile prints are query-time ephemera
    for the crop-rescue channel; they never enter the stored print
    format. Only the FULL image takes the print-density rescue
    (prints_with_rescue); tiles always use the standard windows, so
    `rescued` is computable from the stored prints alone and the golden
    matcher's store_image computes the identical value without
    extracting tiles. Dense tile picks were measured at 642 images and
    rejected: they bought one direct pair, already co-clustered through
    its shared base, at 2.3x tile probe volume (BENCH/ATTRIBUTION.md
    "Fix 5")."""
    from panako_spark.kernels.peaks import find_peaks_batch
    from panako_spark.kernels.spectral import (
        column_profiles, spectrograms_sliced,
    )

    profiles = column_profiles(gray, cfg)
    tile_ranges = tile_row_ranges(gray.shape[0], cfg)
    # slice 0 is the full image (profiles' column count IS the image
    # height — column_profiles documents the row independence); the
    # rest are the probe tiles. One batched spectrogram + peak pass
    # replaces 1 + n_tiles small 2-D passes (the per-call NumPy
    # dispatch overhead dominated the extract stage at bench sizes:
    # 14.3 -> ~4 ms/img measured on the 200-image profile corpus).
    ranges = [(0, profiles.shape[1])] + tile_ranges
    stack = spectrograms_sliced(profiles, ranges, cfg)
    std_peaks = find_peaks_batch(stack, cfg)
    lms = landmarks_batch(std_peaks, cfg)

    fh, ft, ff = lms[0]
    rescued = _needs_rescue(fh.size, cfg.print_rescue_floor, cfg)
    n_std = fh.size
    if rescued:
        dense = find_peaks_batch(
            stack[:1], cfg,
            windows=(cfg.peak_rescue_time, cfg.peak_rescue_freq))[0]
        fh, ft, ff, _, n_std = _apply_rescue(std_peaks[0], dense,
                                             fh, ft, ff, cfg)
    tiles = [(tid, hh, tt, ffq)
             for tid, (hh, tt, ffq) in enumerate(lms[1:]) if hh.size]
    return (fh, ft, ff), tiles, rescued, n_std
