"""Verify stage: per-pair alignment kernel over grouped hits.

The reference's per-candidate match loop Q5-Q13 (PanakoStrategy.java:
349-475) runs as ONE shuffle + ONE batched Python pass, one plan for
every channel (_run_verify):

    hits.repartition(pair key)              -- single hash exchange
        count(*) over (run key) >= min hits -- Q5, JVM-side
        .sortWithinPartitions(run key)      -- runs become contiguous
        verify_batches, per Arrow batch     -- flat int columns, NumPy kernel

A run is one canonical (id_a, id_b) pair for the landmark channel
(run_verify) and one directed (id_q, id_r, tile_id) query for the tile
channel and the streaming monitor (run_directed_verify); one kernel
factory (make_verify_batches) serves both, its run keys and output
dtypes read off the verified schema.

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
  * the Q5 gate (>= min_unfiltered_hits raw hits) is a window count over
    the exchange's own sort — no gate aggregation, no second shuffle, no
    join — and the kernel re-checks it vectorized over run lengths.
  * a run can straddle Arrow batch boundaries within a partition; the
    kernel processes each batch's complete runs immediately and carries
    only the trailing run into the next batch — peak memory is one
    batch + the largest run, never the whole partition. Partition
    boundaries can't split a run (hash-partitioned on its pair key), and
    the explicit sortWithinPartitions pins contiguity.
  * the hit relation is symmetric (|h_a - h_b| <= range), so landmark
    hits are stored once per canonical pair (id_a < id_b) and the kernel
    tries both query orientations — the union the reference's dedup
    driver produces by querying every file (Deduplication.java:98-108).
    Directed runs verify the query side only.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
import pyspark.sql.types as T

from panako_spark.config import PanakoConfig
from panako_spark.kernels.verify import verify_pair

# the result tail every verified row carries after its run keys; the
# names are kernels.verify.MatchResult's fields
_TAIL = (("score", T.IntegerType()),
         ("time_factor", T.DoubleType()),
         ("freq_factor", T.DoubleType()),
         ("coverage", T.DoubleType()),
         ("q_start", T.IntegerType()),
         ("q_stop", T.IntegerType()))


def verified_schema(keys: list[tuple[str, T.DataType]]) -> T.StructType:
    """Verified rows: the (name, type) run key columns, then the result
    tail."""
    return T.StructType([T.StructField(name, typ)
                         for name, typ in list(keys) + list(_TAIL)])


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
    """The kernel's run loop (make_verify_batches). Runs are contiguous
    rows with equal `keys`; `verify_run(cols, lo, q_t, q_f, r_t, r_f)`
    is called once per run with at least `min_hits` raw hits (Q5,
    vectorized over run lengths) and returns an output row or None.

    Per-batch streaming with run carry: each Arrow batch is processed
    as NumPy columns immediately, except its trailing run, which may
    continue in the next batch and is carried forward. Peak memory is
    ONE batch plus the largest single run — not the whole partition —
    so a skewed 10^7-row partition can't OOM the Python worker. The
    partition is sorted on `keys` (_run_verify), so runs are contiguous
    and never resume after being cut."""
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


def _frame(rows: list, schema: T.StructType) -> pd.DataFrame:
    if not rows:  # an empty result still needs typed columns
        return to_arrow_schema(schema).empty_table().to_pandas()
    return pd.DataFrame(dict(zip(schema.names, zip(*rows))))


def make_verify_batches(cfg: PanakoConfig, schema: T.StructType,
                        both_ways: bool):
    """The Q5-Q13 Arrow-batch kernel, emitting rows of `schema`
    (verified_schema): one run per distinct value of its key columns
    (every field before the result tail).

    With `both_ways` (the landmark channel's canonical id_a < id_b
    runs) both query orientations are verified and the higher score
    kept, the id_a-as-query one on a tie. Without it (directed runs
    keyed (id_q, id_r, tile_id): the tile channel and the streaming
    monitor) only the query -> store orientation is verified, exactly
    like GoldenMatcher.query_prints."""
    keys = tuple(schema.names[:len(schema.names) - len(_TAIL)])

    def verify_run(cols, lo, q_t, q_f, r_t, r_f):
        best = verify_pair(q_t, q_f, r_t, r_f, cfg)
        if both_ways:
            rev = verify_pair(r_t, r_f, q_t, q_f, cfg)
            if rev is not None and (best is None or rev.score > best.score):
                best = rev
        if best is None:
            return None
        return (tuple(cols[k][lo] for k in keys)
                + tuple(getattr(best, name) for name, _ in _TAIL))

    def verify_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        yield _frame(_verify_runs(it, keys, cfg.min_unfiltered_hits,
                                  verify_run), schema)

    return verify_batches


def _run_verify(hits: DataFrame, cfg: PanakoConfig, keys: tuple[str, ...],
                both_ways: bool) -> DataFrame:
    """The one verify plan: ONE byte-sized hash exchange on the pair key
    keys[:2] (a run's extra keys ride inside its pair's partition), the
    Q5 min-hits gate JVM-side as a window count over the exchange's own
    sort (noise pairs with < 10 hits are ~95% of the hit relation on the
    bench corpus — gating them before the Python boundary cuts the Arrow
    transfer ~20x), runs made contiguous, then the kernel. The key
    column types (int64 iids, string image_ids) are the hits' own."""
    from pyspark.sql import Window

    gated = (hits.repartition(*keys[:2])
             .withColumn("_n", F.count("*").over(Window.partitionBy(*keys)))
             .where(F.col("_n") >= cfg.min_unfiltered_hits)
             .drop("_n")
             # the kernel REQUIRES contiguous runs; today the WindowExec's
             # required child ordering provides that, but the contract
             # must not depend on how the Window happens to plan. This
             # sort is elided by Catalyst when the child ordering already
             # satisfies it (asserted in test_plans).
             .sortWithinPartitions(*keys))
    schema = verified_schema([(k, hits.schema[k].dataType) for k in keys])
    return gated.mapInPandas(make_verify_batches(cfg, schema, both_ways),
                             schema)


def run_directed_verify(hits: DataFrame, cfg: PanakoConfig) -> DataFrame:
    """Directed hits(id_q, id_r, tile_id, tf) -> verified
    (id_q, id_r, tile_id, score, time_factor, freq_factor, coverage,
    q_start, q_stop) at exactly the gates of `cfg`; tf is the packed
    coordinate int64 (candidates._pack_half). The key types (int64
    iids or string image_ids) are the hits' own.

    The query path of the tile channel (run_tile_verify) and of the
    streaming monitor (monitor.probe_batch): one verify per run in the
    query -> store orientation only, like one reference monitor window
    (PanakoStrategy.java:498-510)."""
    return _run_verify(hits, cfg, ("id_q", "id_r", "tile_id"),
                       both_ways=False)


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
    """hits(id_a, id_b, tf) -> verified (id_a, id_b, score, time_factor,
    freq_factor, coverage, q_start, q_stop), both query orientations
    tried per canonical pair; tf is the packed coordinate int64
    (candidates._pack_half) and the ids are the hits' own int64 iids
    (candidates.landmark_hits). `numeric_ids` changes nothing: it stays
    because perfbench's traced replay passes it by name."""
    return _run_verify(hits, cfg, ("id_a", "id_b"), both_ways=True)
