"""Verify stage: per-pair alignment kernel over grouped hits.

The reference's per-candidate match loop Q5-Q13 (PanakoStrategy.java:
349-475) runs as ONE shuffle + ONE batched Python pass:

    hits.repartition(id_a, id_b)            -- single hash exchange
        .sortWithinPartitions(id_a, id_b)   -- pairs become contiguous runs
        .mapInPandas(verify_batches)        -- flat int columns, NumPy kernel

The exchange carries no partition count: it plans as REPARTITION_BY_COL,
which AQE coalesces by shuffle bytes (advisoryPartitionSizeInBytes), so
the number of Python tasks follows the hit volume. A fixed count would
plan as REPARTITION_BY_NUM, which AQE never coalesces, and every
partition would be a Python invocation paying the Arrow/worker boundary
cost however few hits it holds (at the bench corpus, ~4 MB of hits whose
NumPy work takes 0.1 s in one process).

Design notes (measured on the bench corpus; the previous design used
groupBy + 4x collect_list + a Q5 HAVING join, which built per-group
object arrays in the JVM — the object hash aggregate dominated stage
time and its GC pressure slowed every later stage in the same JVM):
  * flat int columns ride Arrow's fast path; nothing is ever assembled
    into JVM list objects.
  * the Q5 gate (>= min_unfiltered_hits raw hits) runs INSIDE the kernel,
    vectorized over segment lengths — no gate aggregation, no second
    shuffle, no join, and gated-out segments cost one comparison.
  * a pair's run can straddle Arrow batch boundaries within a partition;
    the kernel processes each batch's complete runs immediately and
    carries only the trailing run into the next batch — peak memory is
    one batch + the largest pair run, never the whole partition.
    Partition boundaries can't split a pair (hash-partitioned on the
    pair key), and the explicit sortWithinPartitions pins contiguity.
  * the hit relation is symmetric (|h_a - h_b| <= range), so hits are
    stored once per canonical pair (id_a < id_b) and the kernel tries
    both query orientations — the union the reference's dedup driver
    produces by querying every file (Deduplication.java:98-108).
    Directed queries (the tile channel and the streaming monitor) key
    their runs (id_q, id_r, tile_id) and verify the query side only
    (run_directed_verify).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
import pyspark.sql.types as T

from panako_spark.config import PanakoConfig
from panako_spark.kernels.verify import verify_pair

_TAIL = (("score", T.IntegerType(), "int32"),
         ("time_factor", T.DoubleType(), "float64"),
         ("freq_factor", T.DoubleType(), "float64"),
         ("coverage", T.DoubleType(), "float64"),
         ("q_start", T.IntegerType(), "int32"),
         ("q_stop", T.IntegerType(), "int32"))


def verified_schema(keys: list[tuple[str, T.DataType]]) -> T.StructType:
    """Verified rows: the (name, type) run key columns, then the result
    tail both kernels emit."""
    return T.StructType([T.StructField(name, typ) for name, typ in keys]
                        + [T.StructField(name, typ)
                           for name, typ, _ in _TAIL])


def _result_tail(res) -> tuple:
    return (res.score, res.time_factor, res.freq_factor, res.coverage,
            res.q_start, res.q_stop)


def _unpack_tf(tf: np.ndarray) -> tuple[np.ndarray, np.ndarray,
                                        np.ndarray, np.ndarray]:
    """Inverse of candidates._pack_half packing: one non-negative int64
    (t_q*1024 + f_q)*2^32 + (t_r*1024 + f_r) -> (q_t, q_f, r_t, r_f)."""
    tf = tf.astype(np.int64, copy=False)
    a32 = tf >> 32
    b32 = tf & 0xFFFFFFFF
    return a32 >> 10, a32 & 1023, b32 >> 10, b32 & 1023


def _segments(*keys: np.ndarray) -> np.ndarray:
    """Start offsets of contiguous runs of equal key tuples, plus the end
    offset."""
    n = keys[0].size
    if n == 0:
        return np.zeros(1, np.int64)
    diff = keys[0][1:] != keys[0][:-1]
    for k in keys[1:]:
        diff |= k[1:] != k[:-1]
    return np.concatenate(([0], np.flatnonzero(diff) + 1, [n]))


def _verify_runs(it: Iterator[pd.DataFrame], keys: tuple[str, ...],
                 min_hits: int, verify_run) -> list:
    """The run loop both verify kernels share. Runs are contiguous
    rows with equal `keys`; `verify_run(cols, lo, q_t, q_f, r_t, r_f)`
    is called once per run with at least `min_hits` raw hits (Q5,
    vectorized over run lengths) and returns an output row or None.

    Per-batch streaming with run carry: each Arrow batch is processed
    as NumPy columns immediately, except its trailing run, which may
    continue in the next batch and is carried forward. Peak memory is
    ONE batch plus the largest single run — not the whole partition —
    so a skewed 10^7-row partition can't OOM the Python worker. The
    partition is sorted on `keys` (run_verify / run_tile_verify), so
    runs are contiguous and never resume after being cut."""
    names = keys + ("tf",)
    rows: list = []

    def process(cols: dict, bounds: np.ndarray) -> None:
        q_t, q_f, r_t, r_f = _unpack_tf(cols["tf"])
        for si in np.flatnonzero(np.diff(bounds) >= min_hits):
            lo, hi = bounds[si], bounds[si + 1]
            row = verify_run(cols, lo, q_t[lo:hi], q_f[lo:hi],
                             r_t[lo:hi], r_f[lo:hi])
            if row is not None:
                rows.append(row)

    carry: dict[str, np.ndarray] | None = None
    for batch in it:
        cols = {k: batch[k].to_numpy() for k in names}
        if carry is not None and carry["tf"].size:
            cols = {k: np.concatenate([carry[k], cols[k]]) for k in names}
        if cols["tf"].size == 0:
            continue
        bounds = _segments(*(cols[k] for k in keys))
        cut = int(bounds[-2])
        carry = {k: v[cut:] for k, v in cols.items()}
        if cut:
            process({k: v[:cut] for k, v in cols.items()}, bounds[:-1])
    if carry is not None and carry["tf"].size:
        process(carry, _segments(*(carry[k] for k in keys)))
    return rows


def _frame(rows: list, dtypes: dict) -> pd.DataFrame:
    if not rows:
        return pd.DataFrame(
            {k: pd.Series([], dtype=d) for k, d in dtypes.items()})
    return pd.DataFrame(dict(zip(dtypes, zip(*rows))))


# ids are int64 iids or string image_ids; an empty object column
# converts to either Arrow type
_PAIR_DTYPES = {"id_a": "object", "id_b": "object",
                **{name: d for name, _, d in _TAIL}}


def make_verify_batches(cfg: PanakoConfig):
    """Q5-Q13 kernel for the landmark channel: one run per canonical
    (id_a, id_b) pair, BOTH query orientations tried, best score kept."""

    def verify_run(cols, lo, a_t, a_f, b_t, b_f):
        res = verify_pair(a_t, a_f, b_t, b_f, cfg)
        rev = verify_pair(b_t, b_f, a_t, a_f, cfg)
        best = max((r for r in (res, rev) if r is not None),
                   key=lambda r: r.score, default=None)
        if best is None:
            return None
        return (cols["id_a"][lo], cols["id_b"][lo]) + _result_tail(best)

    def verify_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        yield _frame(_verify_runs(it, ("id_a", "id_b"),
                                  cfg.min_unfiltered_hits, verify_run),
                     _PAIR_DTYPES)

    return verify_batches


_DIRECTED_KEYS = ("id_q", "id_r", "tile_id")
# int64 ids on the tile channel, strings on the monitor
_DIRECTED_DTYPES = {"id_q": "object", "id_r": "object", "tile_id": "int32",
                    **{name: d for name, _, d in _TAIL}}


def make_directed_verify_batches(cfg: PanakoConfig):
    """Q5-Q13 kernel for directed queries: one verify per (query image,
    stored image, tile) run, SINGLE orientation (query side first,
    exactly like GoldenMatcher.query_prints). Same batch/carry loop as
    make_verify_batches."""

    def verify_run(cols, lo, q_t, q_f, r_t, r_f):
        res = verify_pair(q_t, q_f, r_t, r_f, cfg)
        if res is None:
            return None
        return (cols["id_q"][lo], cols["id_r"][lo],
                cols["tile_id"][lo]) + _result_tail(res)

    def directed_verify_batches(it: Iterator[pd.DataFrame]
                                ) -> Iterator[pd.DataFrame]:
        yield _frame(_verify_runs(it, _DIRECTED_KEYS,
                                  cfg.min_unfiltered_hits, verify_run),
                     _DIRECTED_DTYPES)

    return directed_verify_batches


def _gated_runs(hits: DataFrame, pair: tuple[str, str],
                runs: tuple[str, ...], min_hits: int) -> DataFrame:
    """ONE byte-sized hash exchange on the pair key (a run's extra keys
    ride inside its pair's partition), the Q5 min-hits gate JVM-side as
    a window count over the exchange's own sort (noise pairs with < 10
    hits are ~95% of the hit relation on the bench corpus — gating them
    before the Python boundary cuts the Arrow transfer ~20x), then runs
    made contiguous for the kernel."""
    from pyspark.sql import Window

    w = Window.partitionBy(*runs)
    return (hits.repartition(*pair)
            .withColumn("_n", F.count("*").over(w))
            .where(F.col("_n") >= min_hits)
            .drop("_n")
            # the kernel REQUIRES contiguous runs; today the WindowExec's
            # required child ordering provides that, but the contract
            # must not depend on how the Window happens to plan. This
            # sort is elided by Catalyst when the child ordering already
            # satisfies it (asserted in test_plans).
            .sortWithinPartitions(*runs))


def run_directed_verify(hits: DataFrame, cfg: PanakoConfig) -> DataFrame:
    """Directed hits(id_q, id_r, tile_id, tf) -> verified
    (id_q, id_r, tile_id, score, time_factor, freq_factor, coverage,
    q_start, q_stop) at exactly the gates of `cfg`; tf is the packed
    coordinate int64 (candidates._pack_half). The key types (int64
    iids or string image_ids) are the hits' own.

    The query path of the tile channel (run_tile_verify) and of the
    streaming monitor (monitor.probe_batch): one verify per run in the
    query -> store orientation only, like one reference monitor window
    (PanakoStrategy.java:498-510). Same plan shape as run_verify."""
    gated = _gated_runs(hits, ("id_q", "id_r"), _DIRECTED_KEYS,
                        cfg.min_unfiltered_hits)
    schema = verified_schema([(k, hits.schema[k].dataType)
                              for k in _DIRECTED_KEYS])
    return gated.mapInPandas(make_directed_verify_batches(cfg), schema)


def run_tile_verify(hits: DataFrame, cfg: PanakoConfig) -> DataFrame:
    """tile hits(id_q, id_r, tile_id, tf) -> directed verified rows
    (run_directed_verify) with the Q13 coverage gate relaxed to
    tile_min_coverage (config.py carries the swept rationale); every
    other gate stays at full strength. GoldenMatcher.tile_rescue_pairs
    verifies at the identical config. The caller gates on
    score >= cfg.tile_min_score and canonicalizes pair order."""
    return run_directed_verify(
        hits, cfg.with_(min_coverage=cfg.tile_min_coverage))


def run_verify(hits: DataFrame, cfg: PanakoConfig,
               numeric_ids: bool = False) -> DataFrame:
    """hits(id_a, id_b, tf) -> verified pairs with score; tf is the
    packed coordinate int64 (candidates._pack_half).

    One hash exchange on the pair key, sized by AQE from its bytes (see
    the module docstring) and gated at Q5 (_gated_runs), then the
    Q6-Q13 alignment kernel does one NumPy pass per coalesced partition
    over flat columns. With numeric_ids the id columns are int64 (see
    landmark_hits) — shuffle, sort, and Arrow all on fixed-width keys.
    """
    gated = _gated_runs(hits, ("id_a", "id_b"), ("id_a", "id_b"),
                        cfg.min_unfiltered_hits)
    id_type = T.LongType() if numeric_ids else T.StringType()
    schema = verified_schema([("id_a", id_type), ("id_b", id_type)])
    return gated.mapInPandas(make_verify_batches(cfg), schema)
