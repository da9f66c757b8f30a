"""Single-node reference-semantics matcher — the golden oracle.

Implements the full store/query/dedup lifecycle of the reference on one
node with exact pipeline semantics (store = build hash multimap like the
LMDB table, query = ±query_range probe Q1 + avoid-set Q2 + group Q4 +
verify Q5-Q13, dedup driver Q18). The Spark pipeline's dup-pair output is
graded against this matcher's output (recall >= 0.99, BASELINE.json).
"""

from __future__ import annotations

from collections import defaultdict

import numpy as np

from panako_spark.config import PanakoConfig
from panako_spark.kernels.minhash import hash_shingles, token_shingles
from panako_spark.kernels.simhash import hamming, simhash
from panako_spark.kernels.suffix import substring_pairs_golden
from panako_spark.kernels.verify import MatchResult, verify_pair


class GoldenMatcher:
    """In-memory store + query engine (reference lifecycle, single node)."""

    def __init__(self, cfg: PanakoConfig):
        self.cfg = cfg
        # hash -> list of (resource_id, t1, f1): the LMDB multimap analog
        self._index: dict[int, list[tuple[str, int, int]]] = defaultdict(list)
        # standard-window prints only — the tile channel's index scope
        # (prints_with_rescue documents why dense rescue extras are
        # landmark-channel-only; the Spark sibling is the `is_std`
        # filter in candidates.tile_hits)
        self._index_std: dict[int, list[tuple[str, int, int]]] = (
            defaultdict(list))
        self._prints: dict[str, tuple[np.ndarray, np.ndarray, np.ndarray]] = {}
        # print-rescue flags (landmarks.prints_with_rescue) + input
        # phashes: rescued pairs face the composite gate of
        # cfg.rescue_min_score/rescue_strong_score/rescue_phash_max —
        # identical to the pipeline's rescue_gate, so parity holds
        # through the rescue
        self._rescued: dict[str, bool] = {}
        self._phash: dict[str, int] = {}

    # -- store (entry point A) ------------------------------------------------
    def store_image(self, image_id: str, gray: np.ndarray,
                    phash: int | None = None) -> int:
        from panako_spark.kernels.landmarks import extract_prints_flagged

        h, t1, f1, rescued, n_std = extract_prints_flagged(gray, self.cfg)
        self.store_prints(image_id, h, t1, f1, n_std=n_std)
        self._rescued[image_id] = rescued
        if phash is not None:
            self._phash[image_id] = phash
        return h.size

    def _pair_ok(self, id_a: str, id_b: str, score: int) -> bool:
        """The rescue precision guard (pipeline.rescue_gate sibling)."""
        if not (self._rescued.get(id_a) or self._rescued.get(id_b)):
            return True
        if score >= self.cfg.rescue_strong_score:
            return True
        pa, pb = self._phash.get(id_a), self._phash.get(id_b)
        if pa is None or pb is None:
            return False  # no corroborating signal available
        ham = bin((pa ^ pb) & 0xFFFFFFFFFFFFFFFF).count("1")
        return (score >= self.cfg.rescue_min_score
                and ham <= self.cfg.rescue_phash_max)

    def store_prints(self, image_id: str, h, t1, f1,
                     n_std: int | None = None) -> None:
        """n_std: how many leading prints are the standard-window pick
        (prints_with_rescue's split); defaults to all of them."""
        self._prints[image_id] = (h, t1, f1)
        if n_std is None:
            n_std = h.size
        for i, (hh, tt, ff) in enumerate(
                zip(h.tolist(), t1.tolist(), f1.tolist())):
            self._index[hh].append((image_id, tt, ff))
            if i < n_std:
                self._index_std[hh].append((image_id, tt, ff))

    def _hot_hashes(self, cap: int | None = None) -> set[int]:
        """Stop-word hashes (> cap distinct images; default cap = the
        corpus-aware effective_hash_max_images) — the same rule the Spark
        candidates stage applies (candidates.hot_hash_set), so
        golden/pipeline parity holds at any scale. Memoized per
        (cap, index size)."""
        if cap is None:
            cap = self.cfg.effective_hash_max_images(len(self._prints))
        if cap <= 0:
            return set()
        key = (cap, len(self._prints))
        if getattr(self, "_hot_cache_key", None) != key:
            self._hot_cache = {hh for hh, rows in self._index.items()
                               if len({rid for rid, _, _ in rows}) > cap}
            self._hot_cache_key = key
        return self._hot_cache

    # -- query (entry point B) ------------------------------------------------
    def query_prints(self, h, t1, f1, avoid: set[str],
                     hot_cap: int | None = None,
                     query_range: int | None = None,
                     std_index_only: bool = False,
                     verify_cfg: PanakoConfig | None = None
                     ) -> dict[str, MatchResult]:
        cfg = self.cfg
        vcfg = verify_cfg if verify_cfg is not None else cfg
        qr = cfg.query_range if query_range is None else query_range
        hot = self._hot_hashes(hot_cap)
        index = self._index_std if std_index_only else self._index
        hits: dict[str, list[tuple[int, int, int, int]]] = defaultdict(list)
        for hh, tt, ff in zip(h.tolist(), t1.tolist(), f1.tolist()):
            if hh in hot:
                continue
            for probe in range(hh - qr, hh + qr + 1):
                if probe in hot:
                    continue
                for rid, rt, rf in index.get(probe, ()):        # Q1
                    if rid in avoid:                            # Q2
                        continue
                    hits[rid].append((tt, ff, rt, rf))          # Q3/Q4
        out: dict[str, MatchResult] = {}
        for rid, rows in hits.items():
            arr = np.array(rows, dtype=np.int64)
            res = verify_pair(arr[:, 0], arr[:, 1], arr[:, 2], arr[:, 3],
                              vcfg)
            if res is not None:
                out[rid] = res
        return out

    # -- dedup driver (entry point C, Q18) -------------------------------------
    def dedup_pairs(self) -> set[tuple[str, str]]:
        pairs: set[tuple[str, str]] = set()
        for qid, (h, t1, f1) in self._prints.items():
            for rid, res in self.query_prints(h, t1, f1,
                                              avoid={qid}).items():
                if self._pair_ok(qid, rid, res.score):
                    pairs.add((min(qid, rid), max(qid, rid)))
        return pairs

    # -- crop-rescue tile probes (query-side tiling) ---------------------------
    def tile_rescue_pairs(self, grays: dict[str, np.ndarray]
                          ) -> set[tuple[str, str]]:
        """Golden sibling of the pipeline's tile channel: every image
        probes the store with prints from vertical (offset, height) row
        tiles (landmarks.tile_row_ranges); a tile match counts only at
        score >= cfg.tile_min_score. Image analog of the reference's
        overlapping monitor windows (PanakoStrategy.java:498-510).

        Tile queries run at the FIXED stop-word cap (hash_max_images,
        not the corpus-scaled cap) — identical to the Spark channel
        (candidates.tile_hits documents why: crop dup groups are tiny,
        and a scaled cap makes tile probe volume superlinear), and
        against the STANDARD-prints-only index (std_index_only; the
        Spark sibling filters on `is_std`) — dense rescue extras are
        landmark-channel-only (prints_with_rescue documents the
        measured reason)."""
        from panako_spark.kernels.landmarks import extract_prints_with_tiles

        # Q13 coverage relaxed to tile_min_coverage for tile matches —
        # the Spark sibling (stages/verify.run_tile_verify) builds the
        # identical vcfg
        vcfg = self.cfg.with_(min_coverage=self.cfg.tile_min_coverage)
        pairs: set[tuple[str, str]] = set()
        for qid, gray in grays.items():
            _, tiles, _resc, _n_std = extract_prints_with_tiles(gray,
                                                                self.cfg)
            for _tid, h, t1, f1 in tiles:
                for rid, res in self.query_prints(
                        h, t1, f1, avoid={qid},
                        hot_cap=self.cfg.hash_max_images,
                        query_range=0,
                        std_index_only=True, verify_cfg=vcfg).items():
                    if res.score >= self.cfg.tile_min_score \
                            and self._pair_ok(qid, rid, res.score):
                        pairs.add((min(qid, rid), max(qid, rid)))
        return pairs


def caption_pairs_golden(captions: dict[str, str], cfg: PanakoConfig):
    """Brute-force caption channels -> dict channel -> set of sorted pairs.

    Channel semantics are EXACTLY the distributed algorithm's (that is
    what parity means): minhash = >=1 shared LSH band AND
    signature-estimated Jaccard >= threshold (the signatures are
    deterministic, so both sides compute identical values); simhash =
    >=1 shared bit-band AND Hamming <= threshold; exact = identical
    caption; substring = containment over the winnowing-detectable length.
    """
    from panako_spark.kernels.minhash import (
        band_keys, minhash_signature, signature_jaccard,
    )
    from panako_spark.kernels.simhash import simhash_band_keys

    ids = sorted(captions)
    sh = {i: hash_shingles(token_shingles(captions[i], cfg.minhash_shingle))
          for i in ids}
    sig = {i: minhash_signature(sh[i], cfg) for i in ids}
    bands = {i: set(band_keys(sig[i], cfg)[0].tolist()) for i in ids}
    sim = {i: int(simhash(sh[i])) for i in ids}
    sbands = {i: set(simhash_band_keys(np.array([sim[i]]), cfg)[0].tolist())
              for i in ids}
    exact, mh, smh = set(), set(), set()
    for a in range(len(ids)):
        for b in range(a + 1, len(ids)):
            ia, ib = ids[a], ids[b]
            if captions[ia] == captions[ib]:
                exact.add((ia, ib))
            if (bands[ia] & bands[ib]) and (
                    signature_jaccard(sig[ia], sig[ib])
                    >= cfg.minhash_jaccard_threshold):
                mh.add((ia, ib))
            if (sbands[ia] & sbands[ib]) and (
                    hamming(sim[ia], sim[ib])
                    <= cfg.simhash_hamming_threshold):
                smh.add((ia, ib))
    sub = substring_pairs_golden(captions, cfg.substring_min_len)
    return {"caption_exact": exact, "minhash": mh, "simhash": smh,
            "caption_substring": sub}


def phash_pairs_golden(phashes: dict[str, int], cfg: PanakoConfig
                       ) -> set[tuple[str, str]]:
    """Golden phash channel: >=1 shared band key AND Hamming <= threshold
    (bit-identical banding to the phash channel of
    stages/candidates.fused_candidate_pairs)."""
    bpb = cfg.phash_bits_per_band
    mask = (1 << bpb) - 1
    ids = sorted(phashes)

    def bands(p: int) -> set[int]:
        u = p & 0xFFFFFFFFFFFFFFFF
        return {(b << (bpb + 1)) + ((u >> (b * bpb)) & mask)
                for b in range(cfg.phash_bands)}

    bset = {i: bands(phashes[i]) for i in ids}
    out = set()
    for a in range(len(ids)):
        for b in range(a + 1, len(ids)):
            ia, ib = ids[a], ids[b]
            if (bset[ia] & bset[ib]) and (
                    hamming(phashes[ia], phashes[ib])
                    <= cfg.phash_hamming_threshold):
                out.add((ia, ib))
    return out


def connected_components_golden(pairs: set[tuple[str, str]],
                                all_ids: list[str]) -> dict[str, str]:
    """Union-find min-label components — oracle for the Spark CC loop."""
    parent: dict[str, str] = {i: i for i in all_ids}

    def find(x: str) -> str:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {i: find(i) for i in all_ids}
