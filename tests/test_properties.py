"""Property-based tests (hypothesis) for the pure-NumPy kernels.

The example-based suite (test_kernels.py) pins known answers and golden
vectors; this file adds randomized breadth against *naive oracles* — the
same strategy the reference uses for its own max-filter oracle
(OlafEventPointProcessor.java:149-163), extended to every kernel whose
semantics admit a slow obviously-correct restatement:

  * separable running-max filter vs the O(n*w) loop oracle
  * batched peak picking vs the single-slice picker (bit-identity)
  * suffix / LCP arrays vs sorted-suffix comparison
  * vectorized rolling hashes vs a pure-Python Horner mod 2^61-1
  * the winnowing fingerprint guarantee on planted shared substrings
  * batched MinHash vs per-document signatures
  * avro_lite datum + container round-trips (spec conformance edges:
    int64 boundaries, empty containers, unicode, unions)

Profiles are derandomized (fixed seed) so the suite is reproducible and
cannot flake in CI; deadlines are disabled because first-call NumPy
dispatch can exceed hypothesis' default 200 ms on a loaded box.
"""

from __future__ import annotations

import dataclasses
import io
import os
import tempfile

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from panako_spark.config import PanakoConfig
from panako_spark.io import avro_lite
from panako_spark.kernels import minhash as mh
from panako_spark.kernels import peaks, suffix

SETTINGS = dict(
    max_examples=40,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.too_slow],
)

CFG = PanakoConfig()


# ------------------------------------------------------------ max filter --
@given(
    nt=st.integers(1, 24),
    nf=st.integers(1, 24),
    w_time=st.integers(1, 9),
    w_freq=st.integers(1, 9),
    seed=st.integers(0, 2**31 - 1),
)
@settings(**SETTINGS)
def test_max_filter_matches_naive_oracle_prop(nt, nf, w_time, w_freq, seed):
    rng = np.random.default_rng(seed)
    mat = rng.standard_normal((nt, nf)).astype(np.float32)
    got = peaks.max_filter_2d(mat, w_time, w_freq)
    want = peaks.naive_max_filter(mat, w_time, w_freq)
    np.testing.assert_array_equal(got, want)


@given(
    n_slices=st.integers(1, 4),
    nt=st.integers(2, 20),
    nf=st.integers(2, 20),
    cap=st.integers(1, 64),
    seed=st.integers(0, 2**31 - 1),
)
@settings(**SETTINGS)
def test_find_peaks_batch_bit_identical_to_single(n_slices, nt, nf, cap, seed):
    # small caps exercise the strongest-peaks truncation path too
    cfg = dataclasses.replace(CFG, max_peaks_per_image=cap)
    rng = np.random.default_rng(seed)
    stack = rng.random((n_slices, nt, nf)).astype(np.float32)
    batched = peaks.find_peaks_batch(stack, cfg)
    assert len(batched) == n_slices
    for i in range(n_slices):
        t1, f1, m1 = peaks.find_peaks(stack[i], cfg)
        t2, f2, m2 = batched[i]
        np.testing.assert_array_equal(t1, t2)
        np.testing.assert_array_equal(f1, f2)
        np.testing.assert_array_equal(m1, m2)  # bit-identical, not allclose


# ---------------------------------------------------------- suffix / LCP --
_TEXT = st.text(
    alphabet=st.sampled_from("abcabbba é世"), min_size=0, max_size=40
)


@given(s=_TEXT)
@settings(**SETTINGS)
def test_suffix_array_matches_sorted_suffixes(s):
    b = s.encode("utf-8", "surrogatepass")
    sa = suffix.suffix_array(s)
    want = sorted(range(len(b)), key=lambda i: b[i:])
    assert sa.tolist() == want


@given(s=_TEXT)
@settings(**SETTINGS)
def test_lcp_array_matches_naive(s):
    b = s.encode("utf-8", "surrogatepass")
    sa = suffix.suffix_array(s)
    lcp = suffix.lcp_array(s, sa)

    def naive_lcp(x: bytes, y: bytes) -> int:
        n = 0
        for cx, cy in zip(x, y):
            if cx != cy:
                break
            n += 1
        return n

    assert len(lcp) == len(b)
    for i in range(1, len(b)):
        assert lcp[i] == naive_lcp(b[sa[i]:], b[sa[i - 1]:])


# --------------------------------------------------------- rolling hashes --
_MOD = (1 << 61) - 1
_BASE = 1000003


def _naive_rolling(text: str, win: int) -> list[int]:
    c = text.encode("utf-8", "surrogatepass")
    out = []
    for i in range(len(c) - win + 1):
        h = 0
        for ch in c[i:i + win]:
            h = (h * _BASE + ch) % _MOD
        out.append(h)
    return out


@given(s=_TEXT, win=st.integers(1, 12))
@settings(**SETTINGS)
def test_rolling_hashes_match_pure_python_horner(s, win):
    got = suffix.rolling_hashes(s, win)
    assert got.tolist() == _naive_rolling(s, win)


@given(texts=st.lists(_TEXT, min_size=0, max_size=6), win=st.integers(1, 8))
@settings(**SETTINGS)
def test_rolling_hashes_batch_matches_per_text(texts, win):
    batched = suffix.rolling_hashes_batch(texts, win)
    assert len(batched) == len(texts)
    for t, got in zip(texts, batched):
        np.testing.assert_array_equal(got, suffix.rolling_hashes(t, win))


@given(
    pre_a=_TEXT, post_a=_TEXT, pre_b=_TEXT, post_b=_TEXT,
    seed=st.integers(0, 2**31 - 1),
)
@settings(**SETTINGS)
def test_winnowing_guarantee_on_planted_substring(pre_a, post_a, pre_b,
                                                  post_b, seed):
    # any shared substring of length >= win + window - 1 must share at
    # least one winnowed fingerprint (the standard winnowing guarantee)
    win, window = 8, 4
    rng = np.random.default_rng(seed)
    shared = "".join(rng.choice(list("qrstuv"))
                     for _ in range(win + window - 1))
    fa = suffix.fingerprints(pre_a + shared + post_a, win, window)
    fb = suffix.fingerprints(pre_b + shared + post_b, win, window)
    assert np.intersect1d(fa, fb).size >= 1


# ---------------------------------------------------------------- minhash --
@given(
    lists=st.lists(
        st.lists(st.integers(0, 2**64 - 1), min_size=0, max_size=20),
        min_size=0, max_size=8,
    )
)
@settings(**SETTINGS)
def test_minhash_batch_matches_per_doc(lists):
    hash_lists = [np.array(h, dtype=np.uint64) for h in lists]
    batched = mh.minhash_signature_batch(hash_lists, CFG)
    assert batched.shape == (len(lists), CFG.minhash_perms)
    for i, h in enumerate(hash_lists):
        np.testing.assert_array_equal(batched[i], mh.minhash_signature(h, CFG))


# -------------------------------------------------------------- landmarks --
@given(
    n_slices=st.integers(1, 5),
    strategy=st.sampled_from(["panako", "olaf"]),
    eps=st.sampled_from([2, 3]),
    cap=st.integers(1, 400),
    seed=st.integers(0, 2**31 - 1),
)
@settings(**SETTINGS)
def test_landmarks_batch_matches_per_slice(n_slices, strategy, eps, cap,
                                           seed):
    # the global concatenated pack + lexsort-dedup must equal the
    # per-slice path bit-for-bit (small caps exercise the print cap)
    from panako_spark.kernels import landmarks as lm

    cfg = dataclasses.replace(CFG, strategy=strategy, olaf_eps_per_fp=eps,
                              max_prints_per_image=cap)
    rng = np.random.default_rng(seed)
    peaks_list = []
    for _ in range(n_slices):
        n = int(rng.integers(0, 30))
        t = np.sort(rng.integers(0, 60, n)).astype(np.int32)
        f = rng.integers(0, 128, n).astype(np.int32)
        m = rng.random(n).astype(np.float32)
        peaks_list.append((t, f, m))
    batched = lm.landmarks_batch(peaks_list, cfg)
    for got, (t, f, m) in zip(batched, peaks_list):
        want = lm.landmarks_batch([(t, f, m)], cfg)[0]
        for g, w in zip(got, want):
            np.testing.assert_array_equal(g, w)


# -------------------------------------------------------------- avro_lite --
_LONGS = st.integers(-(2**63), 2**63 - 1)

_RECORD_SCHEMA = {
    "type": "record",
    "name": "prop_rec",
    "fields": [
        {"name": "id", "type": "long"},
        {"name": "name", "type": "string"},
        {"name": "payload", "type": "bytes"},
        {"name": "opt", "type": ["null", "long"]},
        {"name": "xs", "type": {"type": "array", "items": "long"}},
    ],
}

_RECORDS = st.lists(
    st.fixed_dictionaries({
        "id": _LONGS,
        "name": st.text(max_size=20),
        "payload": st.binary(max_size=20),
        "opt": st.none() | _LONGS,
        "xs": st.lists(_LONGS, max_size=5),
    }),
    min_size=0, max_size=8,
)


@given(records=_RECORDS)
@settings(**SETTINGS)
def test_avro_container_roundtrip(records):
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "prop.avro")
        avro_lite.write_container(path, _RECORD_SCHEMA, records)
        schema, got, _meta = avro_lite.read_container(path)
        assert got == records
        assert schema["name"] == "prop_rec"


@given(n=_LONGS)
@settings(**SETTINGS)
def test_zigzag_roundtrip_int64(n):
    buf = io.BytesIO(avro_lite._zigzag_encode(n))
    assert avro_lite._read_long(buf) == n
    assert not buf.read()  # no trailing bytes


@pytest.mark.parametrize("bad", [2**63, -(2**63) - 1, 2**70])
def test_zigzag_rejects_out_of_int64(bad):
    with pytest.raises(ValueError):
        avro_lite._zigzag_encode(bad)
