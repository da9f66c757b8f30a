"""Candidate-pair verification: the reference's per-candidate match loop
(Q5-Q13) as one NumPy kernel.

Reference semantics, step by step (PanakoStrategy.java:349-475):
  Q5  drop candidates with < min_unfiltered_hits raw hits (Key.java:359)
  Q6  sort hits by query time (we add (q_f, r_t, r_f) tie-breaks for a
      total order — the Java version inherits arrival order on ties,
      SURVEY.md §7 "what is hard")
  Q7  head/tail sublists of size min(250, max(10, n/5)) (Key.java:368-376)
  Q8  mode of ΔT = (ref_t - query_t) in each sublist
      (mostCommonDeltaTforHitList, PanakoStrategy.java:263-282)
  Q9  anchors = first hit matching each mode -> slope/offset line fit;
      time factor from the slope, frequency factor from anchor f-ratio
      (PanakoStrategy.java:375-405)
  Q10 accept only factors in (0.8, 1.2) (Key.java:387-402)
  Q11 inliers: |ΔT_actual - (slope*q_t + offset - q_t... )| — concretely
      the reference checks the hit against the fitted line within
      query_range (PanakoStrategy.java:408,415-429)
  Q12 > min_filtered_hits inliers and match span >= min duration
      (Key.java:382,411)
  Q13 per-unit coverage histogram >= min_coverage (Key.java:407);
      score = inlier count

For images: "time" is the horizontal frame index; time factor = horizontal
scale ratio; frequency factor = vertical scale ratio at the anchor.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from panako_spark.config import PanakoConfig


@dataclass(frozen=True)
class MatchResult:
    score: int
    time_factor: float
    freq_factor: float
    coverage: float
    q_start: int
    q_stop: int
    r_start: int
    r_stop: int


def _mode_delta(delta: np.ndarray) -> int:
    """Most common value; ties -> smallest (deterministic)."""
    vals, counts = np.unique(delta, return_counts=True)
    return int(vals[np.argmax(counts)])


def _hist_fallback(q_t: np.ndarray, q_f: np.ndarray,
                   r_t: np.ndarray, r_f: np.ndarray,
                   cfg: PanakoConfig) -> MatchResult | None:
    """Q15: Olaf's histogram fallback (OlafStrategy.java:462-541) —
    rigid-offset match via the mode of a coarse ΔT histogram; inliers are
    hits whose ΔT falls in the mode bin ± one bin. No time scaling
    (time_factor fixed at 1), so only use when the strict matcher failed
    and cfg.fallback_to_hist is on (the reference's OTA/noisy mode)."""
    delta = r_t.astype(np.int64) - q_t.astype(np.int64)
    bins = delta // cfg.hist_bin
    mode_bin = _mode_delta(bins)
    inlier = np.abs(bins - mode_bin) <= 1
    n_in = int(inlier.sum())
    if n_in < cfg.min_filtered_hits:
        return None
    qi, ri = q_t[inlier], r_t[inlier]
    q_start, q_stop = int(qi.min()), int(qi.max())
    r_start, r_stop = int(ri.min()), int(ri.max())
    if (q_stop - q_start) < cfg.min_match_span:
        return None
    total_bins = (r_stop - r_start) // cfg.coverage_bin + 1
    filled = np.unique((ri - r_start) // cfg.coverage_bin).size
    coverage = filled / total_bins
    if coverage < cfg.min_coverage:
        return None
    with np.errstate(divide="ignore", invalid="ignore"):
        ff = float(np.median((r_f[inlier] + 0.5) / (q_f[inlier] + 0.5)))
    if not (cfg.factor_min < ff < cfg.factor_max):
        return None
    return MatchResult(n_in, 1.0, ff, float(coverage),
                       q_start, q_stop, r_start, r_stop)


def verify_pair(q_t: np.ndarray, q_f: np.ndarray,
                r_t: np.ndarray, r_f: np.ndarray,
                cfg: PanakoConfig) -> MatchResult | None:
    """Raw hit lists for one (query, ref) candidate -> match or None.

    Strict line-fit matcher (Q6-Q13); when it rejects and
    cfg.fallback_to_hist is set, the Q15 histogram fallback gets a try.
    """
    res = _strict_verify(q_t, q_f, r_t, r_f, cfg)
    if res is None and cfg.fallback_to_hist \
            and q_t.size >= cfg.min_unfiltered_hits:
        res = _hist_fallback(q_t, q_f, r_t, r_f, cfg)
    return res


def _strict_verify(q_t: np.ndarray, q_f: np.ndarray,
                   r_t: np.ndarray, r_f: np.ndarray,
                   cfg: PanakoConfig) -> MatchResult | None:
    n = q_t.size
    if n < cfg.min_unfiltered_hits:  # Q5
        return None
    order = np.lexsort((r_f, r_t, q_f, q_t))  # Q6 total order
    q_t = q_t[order].astype(np.int64)
    q_f = q_f[order].astype(np.int64)
    r_t = r_t[order].astype(np.int64)
    r_f = r_f[order].astype(np.int64)

    s = min(cfg.max_align_hits, max(cfg.min_align_hits, n // cfg.align_fraction))
    s = min(s, n)
    delta = r_t - q_t
    mode_head = _mode_delta(delta[:s])          # Q7+Q8
    mode_tail = _mode_delta(delta[n - s:])

    i1 = int(np.argmax(delta == mode_head))     # Q9 first hit matching mode
    # first hit in the *tail* matching the tail mode (reference scans the
    # tail sublist)
    tail_off = n - s
    i2 = tail_off + int(np.argmax(delta[tail_off:] == mode_tail))
    x1, y1 = int(q_t[i1]), int(r_t[i1])
    x2, y2 = int(q_t[i2]), int(r_t[i2])
    if x2 == x1:
        if y2 != y1:
            return None
        slope = 1.0  # degenerate: single query-time column; rigid offset
    else:
        slope = (y2 - y1) / (x2 - x1)
    offset = y1 - slope * x1
    time_factor = slope
    freq_factor = (float(r_f[i1]) + 0.5) / (float(q_f[i1]) + 0.5)
    if not (cfg.factor_min < time_factor < cfg.factor_max):   # Q10
        return None
    if not (cfg.factor_min < freq_factor < cfg.factor_max):
        return None

    predicted = slope * q_t + offset                          # Q11
    inlier = np.abs(r_t - predicted) <= cfg.inlier_threshold
    n_in = int(inlier.sum())
    if n_in < cfg.min_filtered_hits:                          # Q12
        return None
    qi, ri = q_t[inlier], r_t[inlier]
    q_start, q_stop = int(qi.min()), int(qi.max())
    r_start, r_stop = int(ri.min()), int(ri.max())
    if (q_stop - q_start) < cfg.min_match_span:
        return None
    # Q13 coverage: fraction of coverage_bin-wide bins along the matched
    # ref span containing >= 1 inlier
    total_bins = (r_stop - r_start) // cfg.coverage_bin + 1
    filled = np.unique((ri - r_start) // cfg.coverage_bin).size
    coverage = filled / total_bins
    if coverage < cfg.min_coverage:
        return None
    return MatchResult(n_in, float(time_factor), float(freq_factor),
                       float(coverage), q_start, q_stop, r_start, r_stop)

