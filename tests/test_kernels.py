"""Kernel unit tests (SURVEY.md §5 test strategy, layer 1)."""

import numpy as np
import pytest

from panako_spark.config import PanakoConfig
from panako_spark.kernels import codec, landmarks, minhash, peaks, simhash, \
    spectral, suffix, verify
from panako_spark.data import synth


# ---------------------------------------------------------------- codec ----
def test_raw_roundtrip():
    rng = np.random.default_rng(0)
    img = rng.integers(0, 256, (33, 47, 3), dtype=np.uint8)
    assert np.array_equal(codec.decode(codec.encode(img, "raw"), 47, 33, "raw"), img)


def test_png_roundtrip_lossless():
    rng = np.random.default_rng(1)
    img = rng.integers(0, 256, (64, 80, 3), dtype=np.uint8)
    data = codec.encode(img, "png")
    out = codec.decode(data, 80, 64, "png")
    assert np.array_equal(out, img)
    assert codec.psnr(img, out) == float("inf")


def test_png_decode_filtered_scanlines():
    """Decoder handles Sub/Up/Average/Paeth filters, not just our filter-0."""
    import struct, zlib
    rng = np.random.default_rng(2)
    img = rng.integers(0, 256, (5, 4, 3), dtype=np.uint8)
    h, w = img.shape[:2]
    # hand-build with filter 1 (Sub) on every line
    lines = []
    for y in range(h):
        row = img[y].reshape(-1).astype(np.int32)
        enc = row.copy()
        enc[3:] = (row[3:] - row[:-3]) % 256
        lines.append(b"\x01" + enc.astype(np.uint8).tobytes())
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    data = (b"\x89PNG\r\n\x1a\n"
            + codec._chunk(b"IHDR", ihdr)
            + codec._chunk(b"IDAT", zlib.compress(b"".join(lines)))
            + codec._chunk(b"IEND", b""))
    assert np.array_equal(codec.decode_png(data), img)


def test_corrupt_png_raises_value_error():
    """Corrupt bytes must raise ValueError (catchable), never leak
    struct.error/zlib.error — one bad row can't kill a 10^12-row job."""
    import zlib as _z
    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, (8, 8, 3), dtype=np.uint8)
    good = codec.encode(img, "png")
    for bad in (good[:10], good[:50], good[:8],
                good[:40] + b"\x00" * 20,
                b"\x89PNG\r\n\x1a\n" + b"\x00" * 4):
        with pytest.raises(ValueError):
            codec.decode(bad, 8, 8, "png")
    with pytest.raises(NotImplementedError):
        codec.decode(b"xx", 1, 1, "jpeg")


def test_psnr_noise():
    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, (32, 32, 3), dtype=np.uint8)
    noisy = np.clip(img + rng.normal(0, 3, img.shape), 0, 255).astype(np.uint8)
    assert 30 < codec.psnr(img, noisy) < 60


# ------------------------------------------------------------- max filter ---
def test_max_filter_matches_naive_oracle(cfg):
    """Vectorized separable filter == reference-style naive oracle
    (OlafEventPointProcessor.java:149-163 pattern)."""
    rng = np.random.default_rng(4)
    mat = rng.random((40, 32)).astype(np.float32)
    got = peaks.max_filter_2d(mat, 7, 9)
    want = peaks.naive_max_filter(mat, 7, 9)
    assert np.array_equal(got, want)


def test_peaks_are_local_maxima(cfg):
    rng = np.random.default_rng(5)
    img = synth._base_image(rng)
    spec = spectral.spectrogram(codec.to_gray(img), cfg)
    t, f, m = peaks.find_peaks(spec, cfg)
    assert t.size > 0
    filt = peaks.max_filter_2d(spec, cfg.max_filter_time, cfg.max_filter_freq)
    assert np.all(spec[t, f] >= filt[t, f])
    assert t.size <= cfg.max_peaks_per_image


# --------------------------------------------------------------- landmarks --
def test_triplet_bounds(cfg):
    t = np.array([0, 3, 6, 50], dtype=np.int32)
    f = np.array([10, 20, 30, 40], dtype=np.int32)
    i, j, k = landmarks.enumerate_triplets(t, f, cfg)
    # only (0,1,2) is valid: gaps 3,3 within [2,33]; index 3 is 44 away
    assert list(zip(i, j, k)) == [(0, 1, 2)]


def test_hash_known_value():
    """Golden bit-layout vector (layout cited from
    PanakoFingerprint.java:231-273)."""
    h = landmarks.pack_hashes(
        *(np.array([v]) for v in [0, 10, 5.0, 4, 30, 6.0, 8, 20, 4.0]))
    # ratio_t = round(64*4/8)=32; bits f1>f2:0 f2>f3:1 f3>f1:1 m1>m2:0
    # m2>m3:1 m3>m1:0 ; (t3-t2)=4 > (t2-t1)=4 -> 0 ; |f3-f2|=10>|f2-f1|=20 ->0
    # f1=10>>2=2 ; |f2-f1|=20>>1=10 ; |f3-f2|=10>>1=5
    want = (((32 << 8 | 0b01101000) << 8 | 2) << 6 | 10) << 6 | 5
    assert int(h[0]) == want


def test_hash_scale_invariance(cfg):
    """Uniform time-stretch of a triplet keeps the hash within ±range
    (the scale-invariance property the reference's E7 encoding targets)."""
    t1, t2, t3 = 10, 18, 26
    f = np.array([40, 60, 50])
    m = np.array([1.0, 2.0, 3.0])
    base = landmarks.pack_hashes(
        np.array([t1]), f[:1], m[:1], np.array([t2]), f[1:2], m[1:2],
        np.array([t3]), f[2:3], m[2:3])[0]
    for factor in (0.9, 1.1):
        ts = [int(round(t * factor)) for t in (t1, t2, t3)]
        hh = landmarks.pack_hashes(
            np.array(ts[:1]), f[:1], m[:1], np.array(ts[1:2]), f[1:2], m[1:2],
            np.array(ts[2:3]), f[2:3], m[2:3])[0]
        assert abs(int(hh) - int(base)) <= 2 * cfg.query_range


def test_extract_prints_end_to_end(cfg):
    rng = np.random.default_rng(6)
    img = synth._base_image(rng)
    h, t1, f1 = landmarks.extract_prints(codec.to_gray(img), cfg)
    assert h.size > 0
    assert h.size <= cfg.max_prints_per_image
    assert h.dtype == np.int64 and t1.dtype == np.int32


# ----------------------------------------------------------------- minhash --
def test_minhash_identical_and_disjoint(cfg):
    a = minhash.hash_shingles(minhash.token_shingles("a b c d e f g h", 3))
    b = minhash.hash_shingles(minhash.token_shingles("a b c d e f g h", 3))
    c = minhash.hash_shingles(minhash.token_shingles("x y z q r s t u", 3))
    sa = minhash.minhash_signature(a, cfg)
    sb = minhash.minhash_signature(b, cfg)
    sc = minhash.minhash_signature(c, cfg)
    assert np.array_equal(sa, sb)
    assert minhash.signature_jaccard(sa, sc) < 0.2


def test_minhash_estimates_jaccard(cfg):
    rng = np.random.default_rng(7)
    toks = [f"t{i}" for i in range(100)]
    t2 = toks.copy()
    for i in rng.choice(100, 20, replace=False):
        t2[int(i)] = f"x{i}"
    a = minhash.hash_shingles(minhash.token_shingles(" ".join(toks), 3))
    b = minhash.hash_shingles(minhash.token_shingles(" ".join(t2), 3))
    true_j = minhash.jaccard(a, b)
    est = minhash.signature_jaccard(minhash.minhash_signature(a, cfg),
                                    minhash.minhash_signature(b, cfg))
    assert abs(true_j - est) < 0.15


def test_minhash_batch_matches_single(cfg):
    texts = ["a b c d e", "f g h i j k", "", "a b c d e f"]
    lists = [minhash.hash_shingles(minhash.token_shingles(t, 3)) for t in texts]
    batch = minhash.minhash_signature_batch(lists, cfg)
    for i, hl in enumerate(lists):
        assert np.array_equal(batch[i], minhash.minhash_signature(hl, cfg))


def test_band_keys_shape(cfg):
    sig = minhash.minhash_signature(
        minhash.hash_shingles(minhash.token_shingles("a b c d e", 3)), cfg)
    keys = minhash.band_keys(sig, cfg)
    assert keys.shape == (1, cfg.minhash_bands)


# ----------------------------------------------------------------- simhash --
def test_simhash_near_vs_far(cfg):
    base = "the quick brown fox jumps over the lazy dog " * 4
    near = base.replace("lazy", "idle")
    far = " ".join(f"z{i}" for i in range(40))
    hb = simhash.simhash(minhash.hash_shingles(minhash.token_shingles(base, 3)))
    hn = simhash.simhash(minhash.hash_shingles(minhash.token_shingles(near, 3)))
    hf = simhash.simhash(minhash.hash_shingles(minhash.token_shingles(far, 3)))
    assert simhash.hamming(hb, hn) < simhash.hamming(hb, hf)
    assert simhash.hamming(hb, hb) == 0
    # negative int64 fingerprints are masked to 64 bits
    assert simhash.hamming(0, 0) == 0
    assert simhash.hamming(-1, 0) == 64
    assert simhash.hamming(12345, 12345) == 0


def test_simhash_band_keys(cfg):
    fp = np.array([123456789], dtype=np.int64)
    keys = simhash.simhash_band_keys(fp, cfg)
    assert keys.shape == (1, cfg.simhash_bands)
    assert len(set(keys[0].tolist())) >= 2


# ------------------------------------------------------------------ suffix --
def test_suffix_array_known():
    s = "banana"
    sa = suffix.suffix_array(s)
    assert [s[i:] for i in sa] == sorted(s[i:] for i in range(len(s)))


def test_lcp_array():
    s = "banana"
    sa = suffix.suffix_array(s)
    lcp = suffix.lcp_array(s, sa)
    suffixes = [s[i:] for i in sa]
    for i in range(1, len(s)):
        a, b = suffixes[i - 1], suffixes[i]
        want = len(a) - len(a.lstrip(''))  # compute manually below
        n = 0
        while n < min(len(a), len(b)) and a[n] == b[n]:
            n += 1
        assert lcp[i] == n


def test_rolling_hash_detects_shared_window():
    a = "the same exact long shared substring content here"
    b = "prefix junk " + a + " suffix junk"
    ha = suffix.rolling_hashes(a, 24)
    hb = suffix.rolling_hashes(b, 24)
    assert np.intersect1d(ha, hb).size == ha.size  # every window of a in b


def test_winnow_guarantee():
    rng = np.random.default_rng(8)
    shared = "".join(chr(97 + int(c)) for c in rng.integers(0, 26, 64))
    a = "xx" + shared + "yy"
    b = "qqqq" + shared + "rr"
    fa = suffix.fingerprints(a, 24, 8)
    fb = suffix.fingerprints(b, 24, 8)
    assert np.intersect1d(fa, fb).size > 0  # shares >= 24+8-1 chars


# ------------------------------------------------------------------ verify --
def _hits_for_line(n, slope=1.0, offset=5, noise=0, seed=0):
    rng = np.random.default_rng(seed)
    q_t = np.sort(rng.integers(0, 60, n))
    r_t = (slope * q_t + offset + rng.integers(-noise, noise + 1, n)).astype(int)
    q_f = rng.integers(0, 128, n)
    return q_t, q_f, r_t, q_f.copy()


def test_verify_accepts_aligned(cfg):
    q_t, q_f, r_t, r_f = _hits_for_line(40, 1.0, 5)
    res = verify.verify_pair(q_t, q_f, r_t, r_f, cfg)
    assert res is not None
    assert res.score >= cfg.min_filtered_hits
    assert 0.95 < res.time_factor < 1.05


def test_verify_rejects_too_few_hits(cfg):
    q_t, q_f, r_t, r_f = _hits_for_line(cfg.min_unfiltered_hits - 1)
    assert verify.verify_pair(q_t, q_f, r_t, r_f, cfg) is None


def test_verify_rejects_random_scatter(cfg):
    rng = np.random.default_rng(9)
    n = 40
    q_t = rng.integers(0, 60, n)
    r_t = rng.integers(0, 60, n)
    q_f = rng.integers(0, 128, n)
    r_f = rng.integers(0, 128, n)
    res = verify.verify_pair(q_t, q_f, r_t, r_f, cfg)
    assert res is None or res.score < n // 2


def test_verify_rejects_bad_time_factor(cfg):
    q_t, q_f, r_t, r_f = _hits_for_line(40, 2.0, 0)  # 2x stretch > 1.2 gate
    assert verify.verify_pair(q_t, q_f, r_t, r_f, cfg) is None


def test_verify_hist_fallback_q15(cfg):
    """Rigid-offset hits too jittered for the line fit (inlier threshold
    2) but within one histogram bin: strict rejects, Q15 accepts when
    enabled (reference OTA mode, OlafStrategy.java:462-541)."""
    # rigid bulk (delta 7) with junk concentrated at head and tail: the
    # strict matcher's anchors hit the junk modes -> slope ~2 -> factor
    # gate rejects; the histogram mode is the rigid bulk
    q_t = np.concatenate([np.arange(0, 10), np.arange(10, 30),
                          np.arange(50, 60)])
    delta = np.concatenate([np.full(10, -20), np.full(20, 7),
                            np.full(10, 40)])
    r_t = q_t + delta
    rng = np.random.default_rng(12)
    q_f = rng.integers(0, 128, q_t.size)
    r_f = q_f.copy()
    strict = verify.verify_pair(q_t, q_f, r_t, r_f, cfg)
    assert strict is None
    loose = verify.verify_pair(q_t, q_f, r_t, r_f,
                               cfg.with_(fallback_to_hist=True))
    assert loose is not None
    assert loose.time_factor == 1.0
    assert loose.score == 20


def test_verify_time_stretch_within_gate(cfg):
    q_t, q_f, r_t, r_f = _hits_for_line(40, 1.1, 3)
    res = verify.verify_pair(q_t, q_f, r_t, r_f, cfg)
    assert res is not None
    assert 1.05 < res.time_factor < 1.15


def test_effective_hash_max_images(cfg):
    """Corpus-size-aware stop-word cap: fixed floor for small corpora,
    grows with n_images (ADVICE: content clusters > 16 are routine at
    web scale)."""
    assert cfg.effective_hash_max_images(None) == cfg.hash_max_images
    assert cfg.effective_hash_max_images(1000) == cfg.hash_max_images
    assert cfg.effective_hash_max_images(1_000_000) == int(
        cfg.hash_max_images_frac * 1_000_000)
    assert cfg.with_(hash_max_images=0).effective_hash_max_images(10**6) == 0


def test_extraction_fingerprint_tracks_format_fields(cfg):
    fp = cfg.extraction_fingerprint()
    assert cfg.with_(min_unfiltered_hits=99).extraction_fingerprint() == fp, \
        "match-gate fields don't change the stored format"
    assert cfg.with_(log_freq=not cfg.log_freq).extraction_fingerprint() != fp
    assert cfg.with_(minhash_seed=1).extraction_fingerprint() != fp


def test_verify_kernel_run_carry(cfg):
    """Both mapInPandas verify kernels must produce identical verified
    rows when a run straddles Arrow batch boundaries (per-batch carry,
    bounded memory): the landmark kernel on (id_a, id_b) runs and the
    directed kernel on (id_q, id_r, tile_id) runs, on int64 iids (tile
    channel) and on string image_ids (streaming monitor). The directed
    kernel emits the landmark kernel's result tail after its run keys."""
    import pandas as pd
    import pyspark.sql.types as T

    from panako_spark.stages.verify import (
        make_verify_batches, verified_schema,
    )

    def directed(id_type):
        return verified_schema([("id_q", id_type), ("id_r", id_type),
                                ("tile_id", T.IntegerType())])

    pair = verified_schema([("id_a", T.LongType()), ("id_b", T.LongType())])

    def pack(a_t, a_f, b_t, b_f):  # candidates._pack_half layout
        return ((a_t * 1024 + a_f) << 32) | (b_t * 1024 + b_f)

    lm_rows, tile_rows = [], []
    for ia, ib in [(1, 2), (3, 4), (5, 6)]:
        for t in range(15):
            tf = pack(t, 10 + (t % 3), t + 1, 10 + (t % 3))
            lm_rows.append((ia, ib, tf))
            # two tiles of one directed pair: runs split on tile_id alone
            for tile in (0, 1):
                tile_rows.append((ia, ib, tile, tf))
    directed_cols = ["id_q", "id_r", "tile_id", "tf"]
    str_rows = [(f"q{a}", f"r{b}", tile, tf)
                for a, b, tile, tf in sorted(tile_rows)]
    cases = [
        (lambda: make_verify_batches(cfg, pair, both_ways=True),
         pd.DataFrame(lm_rows, columns=["id_a", "id_b", "tf"]),
         ["id_a", "id_b"], 3),
        (lambda: make_verify_batches(cfg, directed(T.LongType()),
                                     both_ways=False),
         pd.DataFrame(sorted(tile_rows), columns=directed_cols),
         ["id_q", "id_r", "tile_id"], 6),
        (lambda: make_verify_batches(cfg, directed(T.StringType()),
                                     both_ways=False),
         pd.DataFrame(str_rows, columns=directed_cols),
         ["id_q", "id_r", "tile_id"], 6),
    ]
    tails = []
    for make, df, key, n_runs in cases:
        whole = pd.concat(list(make()(iter([df])))).reset_index(drop=True)
        assert len(whole) == n_runs  # perfectly aligned runs all verify
        assert list(whole.columns[:len(key)]) == key
        tails.append(list(whole.columns[len(key):]))
        for size in (1, 4, 7, 16):
            parts = [df.iloc[i:i + size] for i in range(0, len(df), size)]
            split = pd.concat(list(make()(iter(parts)))
                              ).reset_index(drop=True)
            pd.testing.assert_frame_equal(
                whole.sort_values(key).reset_index(drop=True),
                split.sort_values(key).reset_index(drop=True),
                check_dtype=False)
    assert tails[0] == tails[1] == tails[2] == [
        "score", "time_factor", "freq_factor", "coverage", "q_start",
        "q_stop"]


def test_rolling_hashes_batch_matches_scalar():
    """The batched (concat + slice) hashing path must emit exactly the
    per-text hashes — boundary windows never leak across captions."""
    import numpy as np

    from panako_spark.kernels.suffix import (
        rolling_hashes, rolling_hashes_batch,
    )

    texts = ["", "short", "x" * 23, "y" * 24,
             "the quick brown fox jumps over the lazy dog",
             "unicode éè€ caption with some length to it!"]
    for win in (3, 24):
        batch = rolling_hashes_batch(texts, win)
        assert len(batch) == len(texts)
        for t, b in zip(texts, batch):
            assert np.array_equal(b, rolling_hashes(t, win)), (win, t)


def test_rolling_hashes_known_answer():
    """Pin the polynomial-hash definition: H = sum c[i]*B^(win-1-i) mod
    2^61-1 — any refactor of the vectorized kernel must keep these
    values (stored fingerprints depend on them)."""
    import numpy as np

    from panako_spark.kernels.suffix import _BASE, _MOD, rolling_hashes

    text = "abcdef"
    win = 3
    c = text.encode()
    B, M = int(_BASE), int(_MOD)
    expect = [(c[i] * B * B + c[i + 1] * B + c[i + 2]) % M
              for i in range(len(c) - win + 1)]
    assert rolling_hashes(text, win).tolist() == expect


def test_config_overrides_round_trip():
    """spark-submit KEY=value override surface: typed coercion, loud
    failure on unknown keys / bad booleans."""
    import pytest

    from panako_spark.config import PanakoConfig, config_with_overrides

    cfg = config_with_overrides(
        ["query_range=3", "factor_max=1.3", "fallback_to_hist=true",
         "minhash_seed=0"])
    assert cfg.query_range == 3 and isinstance(cfg.query_range, int)
    assert cfg.factor_max == 1.3
    assert cfg.fallback_to_hist is True
    assert cfg.minhash_seed == 0
    assert config_with_overrides(None) == PanakoConfig()
    with pytest.raises(ValueError, match="unknown config key"):
        config_with_overrides(["not_a_key=1"])
    # deleted options are refused, not silently accepted
    for gone in ("tile_rescue=false", "tile_query_range=2",
                 "simhash_bits=64"):
        with pytest.raises(ValueError, match="unknown config key"):
            config_with_overrides([gone])
    with pytest.raises(ValueError, match="boolean"):
        config_with_overrides(["fallback_to_hist=maybe"])
    with pytest.raises(ValueError, match="KEY=value"):
        config_with_overrides(["query_range"])


def test_every_config_field_is_read():
    """Dead-knob guard: every PanakoConfig field must be read as
    `.<name>` somewhere in the package (properties in config.py count).
    A field nothing reads is an option that changes nothing."""
    import ast
    import dataclasses
    import pathlib

    from panako_spark.config import PanakoConfig

    pkg = pathlib.Path(__file__).resolve().parents[1] / "panako_spark"
    read = {node.attr for path in pkg.rglob("*.py")
            for node in ast.walk(ast.parse(path.read_text()))
            if isinstance(node, ast.Attribute)}
    unread = [f.name for f in dataclasses.fields(PanakoConfig)
              if f.name not in read]
    assert not unread, f"PanakoConfig fields nothing reads: {unread}"


def test_tile_prints_bit_exact_vs_sliced_image(cfg):
    """Crop-rescue tiles: extract_prints_with_tiles must equal extracting
    each sliced image directly — the profile-slice fast path
    (spectral.column_profiles) is bit-exact by row independence, and the
    full-image prints are unchanged. Tiles never take the print-density
    rescue, so a tile equals the NO-rescue extraction of the sliced
    image."""
    import dataclasses

    import numpy as np

    from panako_spark.data import synth
    from panako_spark.kernels.codec import to_gray
    from panako_spark.kernels.landmarks import (
        extract_prints, extract_prints_with_tiles, tile_row_ranges,
    )

    slice_cfg = dataclasses.replace(cfg, print_rescue_floor=0)
    rows, _ = synth.generate_corpus(6, dup_fraction=0.4, seed=13)
    for r in rows:
        g = to_gray(r.pixels)
        (fh, ft, ff), tiles, _resc, _n_std = extract_prints_with_tiles(
            g, cfg)
        dh, dt, df = extract_prints(g, cfg)
        assert np.array_equal(fh, dh)
        assert np.array_equal(ft, dt)
        assert np.array_equal(ff, df)
        tmap = {tid: (hh, tt, fff) for tid, hh, tt, fff in tiles}
        for tid, (r0, r1) in enumerate(tile_row_ranges(g.shape[0], cfg)):
            eh, et, ef = extract_prints(g[r0:r1, :], slice_cfg)
            if tid not in tmap:
                assert eh.size == 0
                continue
            hh, tt, fff = tmap[tid]
            assert np.array_equal(hh, eh)
            assert np.array_equal(tt, et)
            assert np.array_equal(fff, ef)


def test_rescue_print_volume_bounded(cfg):
    """Cost guard for the print-density rescue: corpus-wide print
    volume with the rescue ON must stay within 1.5x of the rescue-OFF
    volume, and tile prints must be BIT-IDENTICAL to the no-rescue
    extraction (tiles never take the dense re-pick). The round-4 uncapped
    rescue read 2.66x total here and inflated the 69.7k-image
    candidate-join/verify phase ~2.5x wall before being contained
    (BENCH/ATTRIBUTION.md "Fix 5") — this test makes that class of
    recall-buys-unbounded-cost regression fail at commit time."""
    import dataclasses

    import numpy as np

    from panako_spark.data import synth
    from panako_spark.kernels.codec import to_gray
    from panako_spark.kernels.landmarks import extract_prints_with_tiles

    nocfg = dataclasses.replace(cfg, print_rescue_floor=0)
    rows, _ = synth.generate_corpus(40, dup_fraction=0.4, seed=777)
    on_full = on_tile = off_full = off_tile = 0
    for r in rows:
        g = to_gray(r.pixels)
        (h, _, _), tiles, _, _ = extract_prints_with_tiles(g, cfg)
        on_full += h.size
        on_tile += sum(hh.size for _, hh, _, _ in tiles)
        (h0, _, _), tiles0, _, _ = extract_prints_with_tiles(g, nocfg)
        off_full += h0.size
        off_tile += sum(hh.size for _, hh, _, _ in tiles0)
        assert h.size <= cfg.max_prints_per_image
        assert len(tiles) == len(tiles0)
        for (_, a, at, af), (_, b, bt, bf) in zip(tiles, tiles0):
            assert np.array_equal(a, b)
            assert np.array_equal(at, bt)
            assert np.array_equal(af, bf)
    total_infl = (on_full + on_tile) / (off_full + off_tile)
    assert total_infl <= 1.5, (
        f"rescue inflates corpus print volume {total_infl:.2f}x "
        f"(full {on_full / off_full:.2f}x, tile {on_tile / off_tile:.2f}x)"
        " — measured 1.24x at this corpus when shipped")


def test_tile_row_ranges_dedup_and_bounds(cfg):
    from panako_spark.kernels.landmarks import tile_row_ranges

    for h in (16, 20, 64, 240, 400):
        ranges = tile_row_ranges(h, cfg)
        assert len(ranges) == len(set(ranges))
        for r0, r1 in ranges:
            assert 0 <= r0 < r1 <= h and r1 - r0 >= 16


def test_packed_hit_coordinate_roundtrip():
    """candidates._pack_half packing and verify._unpack_tf must be exact
    inverses over the full documented budget (t < 2^21, f < 1024), and
    the packed value must stay non-negative (numpy >> is arithmetic)."""
    import numpy as np

    from panako_spark.stages.verify import _unpack_tf

    rng = np.random.default_rng(7)
    n = 4096
    a_t = rng.integers(0, 1 << 21, n)
    b_t = rng.integers(0, 1 << 21, n)
    a_f = rng.integers(0, 1024, n)
    b_f = rng.integers(0, 1024, n)
    # corner values included explicitly
    a_t[0], a_f[0], b_t[0], b_f[0] = (1 << 21) - 1, 1023, (1 << 21) - 1, 1023
    a_t[1] = a_f[1] = b_t[1] = b_f[1] = 0
    tf = (a_t * 1024 + a_f) * (1 << 32) + (b_t * 1024 + b_f)
    assert (tf >= 0).all()
    ua_t, ua_f, ub_t, ub_f = _unpack_tf(tf)
    np.testing.assert_array_equal(ua_t, a_t)
    np.testing.assert_array_equal(ua_f, a_f)
    np.testing.assert_array_equal(ub_t, b_t)
    np.testing.assert_array_equal(ub_f, b_f)
