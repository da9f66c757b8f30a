"""Q21 — the PCH circular-shift histogram matcher, re-expressed.

Reference: PitchClassHistogramStrategy.java:149-217 (`match`): each
resource is reduced to ONE global histogram over a circular domain
(1200 pitch-class cents); two resources match by the maximum, over all
circular shifts, of the bin-wise min-overlap divided by the larger
histogram area; the arg-max shift is reported as the detected
transposition ratio.

Spark-first re-expression: the histogram matcher is domain-agnostic —
what makes it PCH is the CIRCULAR domain + min-overlap + best-shift
output. Here the circular domain is hour-of-day over the `events`
table (24 bins; a shift = a timezone/phase offset, the direct analog of
the reference's pitch transposition), and the entire operator is
JVM-side higher-order array expressions inside whole-stage codegen —
histogram build, all-shifts overlap scan, arg-max — so it is
oracle-checkable bit-exactly against DuckDB.

Scale shape (default path — fully distributed, no driver collect): the
entity cross product gates behind two NECESSARY conditions of
`match >= tau`, both shift-invariant and recall-preserving BY PROOF,
so the banded path returns the identical result set as all-pairs:

  1. area band join — match >= tau implies min(Aq,Ar)/max(Aq,Ar) >= tau
     (the overlap can't exceed the smaller area), so entities band on
     floor(ln A / ln(1/tau)) with {b, b+1} two-key probing: any pair
     within a tau area ratio is guaranteed a key collision. Runs through
     the same salted `pairs_from_keys` primitive as every other channel,
     but because this operator claims exactness, an over-cap (hot) area
     bucket RAISES rather than capping with disclosed drops.
  2. sorted-overlap gate — by the Hardy-Littlewood rearrangement
     inequality, sum(min(sort(q), sort(r))) >= max_shift overlap, and
     the sorted histogram is shift-invariant; candidates failing
     sorted_overlap >= tau * maxA cannot match. Pure integer zip_with/
     aggregate inside whole-stage codegen.

Survivors (and only survivors) run the exact NumPy shift matcher in
batched mapInPandas — no broadcast of the full entity relation, no
toPandas on the driver. On this synthetic corpus the population is
homogeneous (areas within 2x, near-uniform histograms) so the gates
pass ~75% of pairs; on real heterogeneous data the area band alone is
strongly selective. The reference scans every stored .txt histogram
per query (PitchClassHistogramStrategy.query:177-199) — a full cross
join with neither gate.
"""

from __future__ import annotations

import logging
import math

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

_LOG = logging.getLogger(__name__)

PCH_BINS = 24
PCH_MATCH_THRESHOLD = 0.8  # ~p99 of the sf0.01 score
#   distribution (median 0.70) — selects genuinely aligned
#   activity profiles instead of dumping the cross product


def event_hour_histograms(spark: SparkSession, sf_dir: str,
                          bins: int = PCH_BINS) -> DataFrame:
    """events -> (user_id, hist[bins], area): dense circular histogram
    of epoch-hour-of-day per user (one groupBy; the array build is a
    conditional-sum projection, no pivot/shuffle beyond the groupBy)."""
    e = (spark.read.parquet(f"{sf_dir}/events.parquet")
         .select("user_id",
                 F.pmod(F.floor(F.unix_timestamp("ts") / 3600),
                        F.lit(bins)).cast("int").alias("hr")))
    hist = F.array(*[
        F.sum(F.when(F.col("hr") == b, 1).otherwise(0)).alias(f"b{b}")
        for b in range(bins)])
    return (e.groupBy("user_id")
            .agg(hist.alias("hist"))
            .withColumn("area", F.expr("aggregate(hist, 0L, (a, x) -> a + x)")))


def pch_circular_match(spark: SparkSession, sf_dir: str,
                       bins: int = PCH_BINS,
                       threshold: float = PCH_MATCH_THRESHOLD,
                       pair_cap: int = 100_000) -> DataFrame:
    """All entity pairs whose circular-shift min-overlap match score
    meets the threshold -> (id_a, id_b, match, best_shift).

    match = max_shift( sum_i min(q[i], r[(i+shift) % bins]) ) / max(area)
    best_shift = the arg-max shift (first max, ascending shift order) —
    the reference's transposition estimate (match():149-174).

    Default (and only) path is the banded one from the module docstring:
    area-band pairs -> codegen sorted-overlap gate -> exact NumPy shift
    matcher over surviving pair rows in batched mapInPandas. Both gates
    are provably recall-preserving, so the result set is IDENTICAL to
    the all-pairs scan at every corpus size and the DuckDB all-pairs
    oracle stays bit-exact. The only driver action is a one-row pair-
    stats collect that guards the exactness claim: if any area bucket
    overflows `pair_cap` the call RAISES instead of silently dropping
    cross-salt pairs (no entity/pair data ever reaches the driver).
    `pch_circular_match_sql` keeps the pure-expression all-pairs form
    (the oracle tier / micro-corpus reference).
    """
    import pandas as pd

    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold must be in (0,1), got {threshold}")
    h = event_hour_histograms(spark, sf_dir, bins)
    id_type = dict(h.dtypes)["user_id"]

    # 1. area band: floor(ln A / ln(1/tau)) with {b, b+1} probing —
    #    pairs within a tau area ratio differ by <= 1 bucket, so the
    #    two-key emission guarantees a shared key
    w = math.log(1.0 / threshold)
    bucket = F.floor(F.log(F.col("area").cast("double")) / F.lit(w))
    keyed = (h.select("user_id",
                      F.explode(F.array(bucket, bucket + 1)).alias("key")))
    from panako_spark.stages.candidates import pairs_from_keys

    cand, stats = pairs_from_keys(keyed, cap=pair_cap, id_col="user_id")
    # This operator claims EXACT equivalence to the all-pairs scan, so a
    # capped (salted) area bucket is a correctness deviation, not an
    # approximation: pairs straddling two salt sub-buckets would drop
    # SILENTLY. Collect the one-row stats aggregate (its own small
    # groupBy over the area-bucket keys; nothing is cached) and fail
    # loudly when any bucket overflows, instead of letting the result
    # set shrink.
    srow = stats.collect()[0]
    _LOG.info("pch area-band pair stats: n_keys=%d n_hot_keys=%d "
              "dropped_cross_pairs_estimate=%d (cap=%d)",
              srow["n_keys"], srow["n_hot_keys"],
              srow["dropped_cross_pairs_estimate"], pair_cap)
    if srow["n_hot_keys"] > 0:
        raise ValueError(
            f"pch_circular_match: {srow['n_hot_keys']} area bucket(s) "
            f"exceed pair_cap={pair_cap} (~"
            f"{srow['dropped_cross_pairs_estimate']} candidate pairs "
            "would be dropped silently, breaking the operator's exact "
            "all-pairs equivalence). Raise pair_cap above the largest "
            "bucket's entity count — note the exact matcher is "
            "inherently quadratic within an area band, so at cluster "
            "scale a bucket this hot means the corpus is too "
            "homogeneous for the band gate and the cap must cover it.")

    # 2. join per-entity arrays to candidates (entity relation is tiny —
    #    one 24-int row per entity; broadcast at bench scale, shuffle
    #    join on the id at cluster scale), then the codegen
    #    sorted-overlap gate: rearrangement inequality upper-bounds the
    #    best-shift overlap, all-integer zip_with/aggregate
    hh = h.withColumn("sorted_hist", F.sort_array("hist"))
    a = hh.select(F.col("user_id").alias("id_a"),
                  F.col("hist").alias("_ha"),
                  F.col("sorted_hist").alias("_sa"),
                  F.col("area").alias("_aa"))
    b = hh.select(F.col("user_id").alias("id_b"),
                  F.col("hist").alias("_hb"),
                  F.col("sorted_hist").alias("_sb"),
                  F.col("area").alias("_ab"))
    sorted_ov = F.aggregate(
        F.zip_with("_sa", "_sb", lambda x, y: F.least(x, y)),
        F.lit(0).cast("long"), lambda acc, v: acc + v)
    gated = (cand.join(a, "id_a").join(b, "id_b")
             .where(sorted_ov
                    >= F.lit(threshold) * F.greatest("_aa", "_ab"))
             .select("id_a", "id_b", "_ha", "_hb", "_aa", "_ab"))

    # 3. exact shift matcher, vectorized per Arrow batch of PAIR rows
    #    (no broadcast of the entity relation, no O(n^2) block scan)
    def match_batches(it):
        for block in it:
            if not len(block):
                continue
            Q = np.stack(block["_ha"].to_numpy()).astype(np.int64)
            R = np.stack(block["_hb"].to_numpy()).astype(np.int64)
            maxa = np.maximum(block["_aa"].to_numpy(),
                              block["_ab"].to_numpy()).astype(np.int64)
            m = Q.shape[0]
            best = np.full(m, -1, np.int64)
            best_shift = np.zeros(m, np.int32)
            for s in range(bins):
                # r[(i+s) % bins] at index i
                ov = np.minimum(Q, np.roll(R, -s, axis=1)).sum(-1)
                better = ov > best    # strict: keeps the FIRST arg-max
                best = np.where(better, ov, best)
                best_shift = np.where(better, np.int32(s), best_shift)
            match = best / maxa
            keep = match >= threshold
            yield pd.DataFrame({"id_a": block["id_a"].to_numpy()[keep],
                                "id_b": block["id_b"].to_numpy()[keep],
                                "match": match[keep],
                                "best_shift": best_shift[keep]})

    return gated.mapInPandas(
        match_batches, f"id_a {id_type}, id_b {id_type}, match double, "
                       "best_shift int")


def pch_circular_match_sql(spark: SparkSession, sf_dir: str,
                           bins: int = PCH_BINS,
                           threshold: float = PCH_MATCH_THRESHOLD
                           ) -> DataFrame:
    """Pure-expression (whole-stage-codegen) form of the matcher — same
    values, no Python in the plan; the broadcast-NumPy form above is the
    default because per-element codegen overhead dominates at >10^3
    entities."""
    h = event_hour_histograms(spark, sf_dir, bins)
    a = h.select(F.col("user_id").alias("id_a"), F.col("hist").alias("ha"),
                 F.col("area").alias("_aa"))
    b = h.select(F.col("user_id").alias("id_b"), F.col("hist").alias("hb"),
                 F.col("area").alias("_ab"))
    pairs = a.crossJoin(b).where(F.col("id_a") < F.col("id_b"))
    overlaps = F.expr(
        f"transform(sequence(0, {bins - 1}), s -> "
        f"aggregate(sequence(0, {bins - 1}), 0L, "
        f"(acc, i) -> acc + least(ha[i], hb[pmod(i + s, {bins})])))")
    scored = (pairs
              .withColumn("_ov", overlaps)
              .withColumn("_best", F.array_max("_ov"))
              .withColumn("match",
                          F.col("_best") / F.greatest("_aa", "_ab"))
              .withColumn("best_shift",
                          (F.array_position("_ov", F.col("_best")) - 1)
                          .cast("int")))
    return (scored.where(F.col("match") >= threshold)
            .select("id_a", "id_b", "match", "best_shift"))


def pch_oracle_sql(bins: int = PCH_BINS,
                   threshold: float = PCH_MATCH_THRESHOLD) -> str:
    """DuckDB replica of pch_circular_match (same integer histogram,
    same shift scan, same first-max tie-break)."""
    return f"""
        WITH e AS (
          SELECT user_id,
                 CAST(floor(epoch(ts) / 3600) AS BIGINT) % {bins} AS hr
          FROM events),
        ucnt AS (
          SELECT user_id, hr, count(*) AS c FROM e GROUP BY user_id, hr),
        dense AS (
          SELECT u.user_id, b.b, coalesce(ucnt.c, 0) AS c
          FROM (SELECT DISTINCT user_id FROM e) u
          CROSS JOIN (SELECT unnest(range(0, {bins})) AS b) b
          LEFT JOIN ucnt ON ucnt.user_id = u.user_id AND ucnt.hr = b.b),
        h AS (
          SELECT user_id,
                 list(c ORDER BY b) AS hist,
                 sum(c) AS area
          FROM dense GROUP BY user_id),
        pairs AS (
          SELECT a.user_id AS id_a, b.user_id AS id_b,
                 a.hist AS ha, b.hist AS hb,
                 greatest(a.area, b.area) AS ma
          FROM h a JOIN h b ON a.user_id < b.user_id),
        scored AS (
          SELECT id_a, id_b, ma,
                 list_transform(range(0, {bins}), s ->
                   list_sum(list_transform(range(0, {bins}), i ->
                     least(ha[i + 1], hb[((i + s) % {bins}) + 1]))))
                   AS ov
          FROM pairs)
        SELECT id_a, id_b,
               list_max(ov) / ma AS match,
               CAST(list_position(ov, list_max(ov)) - 1 AS INT)
                 AS best_shift
        FROM scored
        WHERE list_max(ov) / ma >= {threshold}
    """
