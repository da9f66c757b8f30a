"""Pipeline configuration.

The reference drives every algorithm parameter through a single typed enum
of ~60 keys with defaults (Key.java:43-439, Config.java), overridable via
properties / KEY=value CLI args. We mirror that with one frozen dataclass:
a single source of truth shared by the Spark pipeline AND the single-node
golden matcher, which is what makes "same shingle/signature config" parity
(BASELINE.json north_rule) testable.

Where a parameter has a direct reference analog the default is copied
verbatim and cited; image-domain parameters (spectrogram geometry) are our
own, scaled from the reference's 512-bin constant-Q layout to the fixture
image sizes, and documented as such.
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace

# Version of the stored prints/signatures table layout, folded into
# extraction_fingerprint(). Version 2 is the layout every reader assumes:
# a minted int64 `iid` per image, the `is_std` print flag and the
# `rescued` signature flag. A store stamped with any other fingerprint,
# or with none, is refused (CheckpointStore.check_config_fp) — bump this
# whenever the table layout changes.
STORE_FORMAT = 2


@dataclass(frozen=True)
class PanakoConfig:
    # ---- spectral front-end (image analog of the CQT/FFT stage) -----------
    # Reference: PANAKO_TRANSF_* (Key.java:316-348) defines a 512-bin
    # time-frequency field; our field is built from an image as:
    # frames slide along x (time axis), each frame's column profile is
    # resampled to `freq_samples` pixels and rfft'd -> freq_bins magnitudes.
    frame_width: int = 8          # columns per analysis frame (E1)
    frame_step: int = 2           # hop between frames (E1)
    freq_samples: int = 256       # vertical resample length before rfft (E2)
    # -> freq_bins = freq_samples//2 = 128 usable bins (bin 0/DC dropped:
    #    brightness invariance; reference drops nothing but its CQT has no DC)
    # log-frequency remap (the reference's constant-Q move,
    # PanakoEventPointProcessor.java:105): vertical crop/rescale becomes a
    # frequency TRANSLATION instead of a scaling, so the triplet Δf hash
    # fields survive crops. Measured on the 580-image corpus: landmark
    # channel +23% true pairs, truth-pair recall 0.941 -> 0.948, cluster
    # closure 0.963 -> 0.967; widening the f1 bucket on top changes
    # nothing (the residual misses share too little content, not too
    # coarse a hash). See kernels/spectral._remap_log.
    log_freq: bool = True
    log_fmin_bin: int = 2         # lowest linear bin mapped to log bin 0

    # ---- event-point extraction (E3-E5) ------------------------------------
    # Reference: 103-bin vertical x 25-frame horizontal max filter
    # (Key.java:289,293). Scaled to our 128-bin field keeping the same
    # freq:time aspect (103/512 ≈ 0.2 of the freq extent; 25 frames).
    # Tuned on the synthetic corpus with an explicit scale criterion: the
    # fraction of RANDOM image pairs passing the min-hits gate must stay in
    # the single-digit percents, else candidate generation degenerates to
    # all-pairs at 10^12 rows (measured: 15x5 windows -> 2176 prints/img,
    # 70% gate-pass = quadratic blowup; 21x7 -> 560 prints/img, ~8%).
    max_filter_freq: int = 21     # vertical max-filter window (odd)
    max_filter_time: int = 7      # horizontal max-filter window (odd)
    min_peak_magnitude: float = 1e-6
    max_peaks_per_image: int = 256   # reference caps event points per frame
                                     # (OlafEventPointProcessor.java:316-324)
    # Print-density rescue for starved images (landmarks.
    # prints_with_rescue; the OTA gate-relaxation analog,
    # OlafStorageKVTest.java:127-137): small images yield too few
    # prints to ever clear the >=10 aligned-hit verify gates (the
    # 642-image corpus's residual crop misses all sat at 8-121 prints
    # vs a 309 median). When the standard windows produce fewer than
    # print_rescue_floor prints, the peak pick re-runs with the
    # smaller rescue windows — the dense peak set is a SUPERSET of the
    # standard one (a 21x7 local max is also an 11x5 local max) and
    # triplet enumeration is exhaustive-in-window, so existing hashes
    # are preserved and matches can only be gained. A peak-COUNT floor
    # was tried first and rejected: typical images have only ~15 peaks,
    # so any useful peak floor rescued >80% of the corpus and collapsed
    # precision (7.7k false pairs at 642 images). The print floor
    # rescues the starved ~20% tail (642-image print-count percentiles:
    # p5=63, p10=88, p25=152, p50=309); direct truth-pair recall
    # 0.9846 -> 0.9938 and cluster-implied recall -> 0.9969, with
    # out-of-clique pairs held at the pre-rescue baseline by the
    # rescue_min_score composite gate below. Measured numbers pinned in
    # test_parity_scale.py.
    print_rescue_floor: int = 130
    peak_rescue_freq: int = 11
    peak_rescue_time: int = 5
    # Cap on the rescued (dense) peak pick. An uncapped 11x5 re-pick
    # turns a starved image into a ~2,700-print one (vs a 309-print
    # corpus median): rescued peaks are few but tightly packed, so the
    # exhaustive-in-window triplet count explodes combinatorially.
    # Measured at 642 images, uncapped rescue inflated corpus print
    # volume 2.03x (full) / 2.76x (tiles), which inflated the
    # candidate-join + verify phase ~2.5x wall at 69.7k images
    # (BENCH/scaling_runs.jsonl pair 8 vs pairs 1-7). The cap keeps
    # every standard-window peak — preserving the superset property
    # above — and fills the remainder with the strongest dense-only
    # peaks by 3x3 magnitude, a deterministic content-only rule, so
    # both sides of a true pair keep (nearly) the same peaks. cap=32
    # measured identical recall/precision to uncapped (sweep pinned in
    # test_parity_scale.py) at -17% print volume.
    rescue_max_peaks: int = 32
    # Precision guard for the rescue: dense prints align spuriously
    # more often, so a landmark/tile pair with a rescued side ships
    # only if it clears rescue_strong_score on alignment alone, OR
    # clears rescue_min_score AND is corroborated by the independent
    # phash signal (hamming <= rescue_phash_max). Measured at 642
    # images (floor 130): false rescued-pair scores sit at p50=10 /
    # p90=15 and random-pair phash hamming at p1=22; the true rescued
    # pairs score 16-35 with hamming 16-20 (one 36-hamming pair clears
    # on score 35 alone). Applied identically in the pipeline
    # (pipeline.rescue_gate) and the golden matcher (_pair_ok).
    # 15 -> 13 (r5 sweep, with tile_min_coverage=0.10): admits exactly
    # the score-13 phash-corroborated crop pair the coverage gate had
    # been hiding — direct recall 0.9907 -> 0.9938, cluster closure
    # 0.9969 -> 1.0000 with out-of-clique pairs bit-identical (8
    # direct / 38 implied) at every swept value down to 10; 13 is the
    # minimum that admits the measured true pair, so the gate stays
    # as tight as the evidence allows.
    rescue_min_score: int = 13
    rescue_strong_score: int = 30
    rescue_phash_max: int = 20

    # ---- triplet landmark packing (E6-E7 / E8) ------------------------------
    # Verbatim from Key.java:296-310 (PANAKO_FP_*); the same bounds are
    # Olaf's defaults (Key.java:242-257 OLAF_FP_*).
    min_time_distance: int = 2    # tDiff in [2,33]
    max_time_distance: int = 33
    min_freq_distance: int = 1    # |fDiff| in [1,128]
    max_freq_distance: int = 128
    max_prints_per_image: int = 4096
    # hash strategy (the reference's strategy switch, Key.java:116):
    #   "panako" — scale-invariant ratio/ordering hash (E7,
    #              PanakoFingerprint.java:231-273): survives crop/rescale.
    #   "olaf"   — rigid absolute-delta hash (E8,
    #              OlafFingerprint.java:154-196): cheaper and more
    #              noise-robust when no geometric change is expected;
    #              the reference's DEFAULT strategy.
    strategy: str = "panako"
    # Olaf packs 2 or 3 event points per fingerprint (OLAF_EPS_PER_FP,
    # Key.java:227, default 3; 2 for small/noisy indexes — the 2-point
    # form stores (e1, e2, e2), OlafEventPointProcessor.java:309).
    olaf_eps_per_fp: int = 3

    # ---- near-hash probe (Q1) ----------------------------------------------
    query_range: int = 2          # Key.java:354 PANAKO_QUERY_RANGE
    # stop-word hashes: drop landmark hashes present in more than this many
    # distinct images (web-scale noise amplifier guard; applied identically
    # in the golden matcher so parity holds). <=0 disables.
    # Measured on the 29k-image bench corpus: hashes shared by 9-512
    # images carried ~92% of raw candidate-pair volume while true dup
    # groups are <=3 images — without this gate the landmark hit relation
    # grows ~quadratically in corpus size. Content clusters larger than
    # the cap (e.g. meme families at web scale) lose only the landmark
    # channel; the phash/minhash/caption channels still pair them.
    # The effective cap is corpus-size-aware: max(hash_max_images,
    # hash_max_images_frac * n_images) — 16 is a bench-tuned FLOOR for
    # small corpora (true dup groups <= 3 there); real deployments with
    # template/meme clusters get a cap that grows with the corpus
    # (1M images -> 1000) instead of silently losing the landmark channel
    # for every content cluster past a fixed 16.
    hash_max_images: int = 16
    hash_max_images_frac: float = 0.001

    # ---- match gates (Q5, Q10-Q13) -----------------------------------------
    min_unfiltered_hits: int = 10     # Key.java:359
    min_filtered_hits: int = 8        # Key.java:382 is ">5"; raised to 8 for
                                      # image-domain precision (measured: same
                                      # TP, -30% FP on the synthetic corpus)
    max_align_hits: int = 250         # head/tail cap, Key.java:368-376
    align_fraction: int = 5           # sublist = max(10, n/5) capped at 250
    min_align_hits: int = 10
    inlier_threshold: int = 2         # |dt - fit| <= range (PanakoStrategy:408)
    factor_min: float = 0.8           # Key.java:387-402
    factor_max: float = 1.2
    # "5 s span / >=20% of seconds covered" (Key.java:407,411): our time unit
    # is frames; one "second" = coverage_bin frames.
    coverage_bin: int = 2
    min_match_span: int = 4           # frames (~2 coverage bins)
    min_coverage: float = 0.2

    # ---- crop-rescue tile probes ---------------------------------------------
    # Query-side vertical tiling (the image analog of the reference's
    # overlapping monitor windows, PanakoStrategy.java:498-510): every
    # image additionally probes the store with landmark prints extracted
    # from (offset, height) row tiles, so a stored 80-95% vertical crop
    # still aligns with its original. The grid spans the crop parameter
    # space at the measured alignment tolerance (~±4 rows); tile matches
    # are verified by the standard Q5-Q13 kernel per directed (query,
    # stored image, tile) run and accepted only at score >=
    # tile_min_score — on the 642-image parity corpus that gate admits
    # 4 extra true crop pairs and 0 false ones (truth recall 0.972 ->
    # 0.985). Tile prints are query-time ephemera computed in the same
    # decode pass; the stored print format is unchanged. Tile probes
    # match exact hashes (candidates.tile_hits carries the measurement).
    tile_probe_offsets: tuple = (0.0, 0.05, 0.10, 0.15)
    tile_probe_heights: tuple = (0.87, 0.93)
    # Gate 12 leaves margin under the lowest true crop pair (score 15).
    tile_min_score: int = 12
    # Tile matches verify with the Q13 coverage gate relaxed to this
    # value (the OTA-config per-window relaxation analog,
    # OlafStorageKVTest.java:127-137): a tile probes a SLICE of the
    # query against a whole stored image, so a true crop pair's
    # inliers legitimately cover a smaller fraction of the stored span
    # than a full-image match's would. Swept r5 on the 642-image truth
    # corpus (BENCH/ATTRIBUTION.md "Fix 6"): 0.10 (together with
    # rescue_min_score 13 below) recovers one coverage-blocked true
    # crop pair (score 13, coverage 0.14) with out-of-clique pairs
    # unchanged; the other gates (tile_min_score, factor windows,
    # inlier fit) stay at full strength.
    tile_min_coverage: float = 0.10

    # ---- histogram fallback matcher (Q15) ------------------------------------
    # Olaf's noisy-query fallback (OlafStrategy.java:462-541, enabled by
    # OLAF_MATCH_FALLBACK_TO_HIST for over-the-air tests): when the strict
    # line-fit match fails, accept the mode of a coarse ΔT histogram.
    fallback_to_hist: bool = False
    hist_bin: int = 5                 # ΔT histogram bin width (frames)

    # ---- MinHash over caption shingles -------------------------------------
    # north_star: "batched MinHash signatures ... over caption token shingles"
    minhash_perms: int = 128
    minhash_bands: int = 32           # 32 bands x 4 rows
    minhash_shingle: int = 3          # token 3-grams
    minhash_seed: int = 0x5EED
    # Caption-channel accept threshold on the signature-estimated
    # Jaccard (band collision still required). Tuned on the 580-image
    # corpus: heavy-crop + token-substitution dups sit at est 51/128 -
    # 63/128 (0.398-0.49) — 0.39 recovers 8 of 17 residual missed truth
    # pairs (pairwise recall 0.948 -> 0.972) while 0 of ~20k random
    # non-dup pairs pass the band+estimate gate even at 0.35 (measured;
    # the shared-vocabulary captions plateau near est ~0.3). 0.39 not
    # 0.40: the estimate is quantized to k/128, and the hard-crop
    # cluster sits exactly at 51/128 = 0.3984. The documents-table
    # dedup operator keeps its own 0.5 default (operators/dedup.py) —
    # near-dup docs are near-verbatim, unlike substituted captions.
    minhash_jaccard_threshold: float = 0.39

    # ---- SimHash over caption token shingles --------------------------------
    simhash_bits: int = 64
    simhash_bands: int = 8            # 8 bands x 8 bits for candidate keys
    simhash_hamming_threshold: int = 6

    # ---- phash channel (perceptual-hash image near-dup) ----------------------
    # 64-bit DCT-sign phash comes with the input table (input_hint). Banded
    # like SimHash: 8 bands x 8 bits guarantees a band collision up to
    # Hamming 7 and probabilistically beyond; verification threshold 14
    # (measured corpus separation: dups <= 16, negatives >= 20).
    phash_bands: int = 8
    phash_hamming_threshold: int = 14

    # ---- suffix-array substring channel -------------------------------------
    substring_min_len: int = 24       # chars; exact substring containment

    # ---- LSH / skew handling -------------------------------------------------
    band_pair_cap: int = 64           # max ids per band key before hot-split

    # ---- connected components -------------------------------------------------
    cc_max_iterations: int = 20

    def __post_init__(self):
        if self.strategy not in ("panako", "olaf"):
            raise ValueError(
                f"strategy must be 'panako' or 'olaf', got "
                f"{self.strategy!r}")
        if self.olaf_eps_per_fp not in (2, 3):
            raise ValueError("olaf_eps_per_fp must be 2 or 3 "
                             "(Key.java:227)")
        if self.freq_bins > 1024:
            raise ValueError(
                f"freq_bins={self.freq_bins} exceeds the packed "
                "hit-coordinate budget (f < 1024); lower freq_samples or "
                "widen the packing in stages/candidates.py + "
                "stages/verify._unpack_tf")

    def with_(self, **kw) -> "PanakoConfig":
        return replace(self, **kw)

    def effective_hash_max_images(self, n_images: int | None) -> int:
        """Corpus-size-aware stop-word cap (see hash_max_images). A pure
        function of (cfg, n_images) so the Spark candidates stage and the
        single-node golden matcher compute the identical cap — parity
        depends on it."""
        if self.hash_max_images <= 0:
            return self.hash_max_images
        if not n_images:
            return self.hash_max_images
        return max(self.hash_max_images,
                   int(self.hash_max_images_frac * n_images))

    def extraction_fingerprint(self) -> str:
        """Stable hash of every config field that changes the on-disk
        fingerprint/signature format. Stamped into checkpoint manifests so
        an append with a different extractor config (e.g. log_freq
        toggled — every landmark hash moves) or an older table layout
        (STORE_FORMAT) is refused instead of silently producing a
        mixed-format store whose cross-boundary pairs never match."""
        import hashlib

        fields = (
            "frame_width", "frame_step", "freq_samples", "log_freq",
            "log_fmin_bin", "max_filter_freq", "max_filter_time",
            "min_peak_magnitude", "max_peaks_per_image",
            "print_rescue_floor", "peak_rescue_freq", "peak_rescue_time",
            "rescue_max_peaks",
            "min_time_distance", "max_time_distance", "min_freq_distance",
            "max_freq_distance", "max_prints_per_image",
            "strategy", "olaf_eps_per_fp",
            "minhash_perms", "minhash_bands", "minhash_shingle",
            "minhash_seed", "simhash_bits", "simhash_bands",
            "phash_bands", "substring_min_len",
        )
        blob = f"store_format={STORE_FORMAT};" + ";".join(
            f"{k}={getattr(self, k)!r}" for k in fields)
        return hashlib.blake2b(blob.encode(), digest_size=8).hexdigest()

    @property
    def freq_bins(self) -> int:
        return self.freq_samples // 2

    @property
    def minhash_rows_per_band(self) -> int:
        return self.minhash_perms // self.minhash_bands

    @property
    def simhash_bits_per_band(self) -> int:
        return self.simhash_bits // self.simhash_bands

    @property
    def phash_bits_per_band(self) -> int:
        return 64 // self.phash_bands


DEFAULT_CONFIG = PanakoConfig()


def parse_overrides(pairs: list[str] | None) -> dict:
    """`KEY=value` strings -> typed kwargs for PanakoConfig.with_.

    The reference accepts every config key as a KEY=value CLI override
    (Panako.java:247-268); this is the same surface for spark-submit:

        spark-submit ... jobs/dedup_job.py --set query_range=3 \\
            --set fallback_to_hist=true --set factor_max=1.3

    Types are coerced from the dataclass defaults (bool accepts
    true/false/1/0); unknown keys fail loudly with the valid-key list.
    """
    out: dict = {}
    for item in pairs or []:
        if "=" not in item:
            raise ValueError(f"override {item!r} is not KEY=value")
        key, _, raw = item.partition("=")
        key = key.strip()
        field_names = {f.name for f in __import__("dataclasses")
                       .fields(PanakoConfig)}
        if key not in field_names:
            # hasattr would also accept properties/methods (freq_bins,
            # with_) which then blow up inside dataclasses.replace —
            # validate against the actual field set instead
            valid = ", ".join(sorted(field_names))
            raise ValueError(f"unknown config key {key!r}; valid: {valid}")
        cur = getattr(DEFAULT_CONFIG, key)
        raw = raw.strip()
        if isinstance(cur, bool):
            if raw.lower() not in ("true", "false", "1", "0"):
                raise ValueError(f"{key}: boolean must be true/false/1/0, "
                                 f"got {raw!r}")
            val: object = raw.lower() in ("true", "1")
        elif isinstance(cur, int):
            val = int(raw)
        elif isinstance(cur, float):
            val = float(raw)
        elif isinstance(cur, tuple):
            # comma-separated, element type from the default's first item
            elem = type(cur[0]) if cur else float
            val = tuple(elem(x) for x in raw.split(",") if x.strip())
        else:
            val = raw
        out[key] = val
    return out


def config_with_overrides(pairs: list[str] | None,
                          base: PanakoConfig | None = None) -> PanakoConfig:
    return (base or DEFAULT_CONFIG).with_(**parse_overrides(pairs))
