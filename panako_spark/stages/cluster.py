"""Connected components: iterative large-star / small-star on DataFrames.

north_star: "verified pairs are clustered by an iterative
large-star/small-star connected-components loop on DataFrames". Algorithm
from Kiveris et al., "Connected Components in MapReduce and Beyond"
(SOCC'14) — O(log n) rounds even on path graphs, no collect_list (the
per-node neighbor set is never materialized; each star takes every
node's minimum from a min(dst) window over one src exchange, so the
hottest node costs one shuffle row per edge and no re-join).

No GraphFrames dependency (SURVEY.md §4 custom-work item 2). Each
large-star + small-star round is localCheckpoint()ed to truncate lineage
and is followed by one aggregation that asks whether the edges form a
star forest: every src has exactly one dst and no dst is also a src.
Small-star emits src > dst, so each such star is centred on its
component minimum and is a fixpoint of both stars (Kiveris et al.) — the
loop stops at the first round that reaches one, and the edges ARE the
labels. Labels are component minima (deterministic, matches the
union-find golden in kernels/matcher.py).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window


def _with_min(edges: DataFrame) -> DataFrame:
    """Every edge row plus `_m`, the minimum dst of its src: a window
    over one src exchange, instead of a groupBy-min joined back (which
    shuffles the edges a second time for the join)."""
    return edges.withColumn(
        "_m", F.min("dst").over(Window.partitionBy("src")))


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every larger neighbor of u to u's min neighborhood label.

    No trailing distinct: the following small-star's min is
    duplicate-insensitive and its own output IS distinct, so within a
    round duplicates only inflate one exchange's input — cheaper than
    the extra full shuffle a distinct here costs (one fewer stage per
    round; the driver-synchronized round count is the scaling-limiting
    term). The same holds for the loop's input edges, which are not
    de-duplicated either.
    """
    sym = edges.union(edges.select(F.col("dst").alias("src"),
                                   F.col("src").alias("dst")))
    m = _with_min(sym).withColumn("_m", F.least("src", "_m"))
    return (m.where(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("_m").alias("dst"))
            .union(m.where(F.col("src") != F.col("_m"))
                   .select("src", F.col("_m").alias("dst"))))


def _small_star(edges: DataFrame) -> DataFrame:
    """Point all smaller-or-equal neighbors at the minimum."""
    m = _with_min(edges.select(F.greatest("src", "dst").alias("src"),
                               F.least("src", "dst").alias("dst")))
    return (m.where(F.col("dst") != F.col("_m"))
            .select(F.col("dst").alias("src"), F.col("_m").alias("dst"))
            .union(m.select("src", F.col("_m").alias("dst")))
            .distinct())


def _is_star_forest(edges: DataFrame) -> bool:
    """Convergence test for small-star output: every src has exactly one
    dst and no dst is also a src. Both halves are needed — a node with
    two distinct minima (d->m1, d->m2) has no dst that is a src, and a
    2-hop chain (c->b, b->a) has one dst per src. One groupBy over the
    edges tagged by role: a node's non-null _d are its out-neighbors,
    its null rows count the edges pointing at it."""
    tagged = (edges.select(F.col("src").alias("_v"), F.col("dst").alias("_d"))
              .union(edges.select(
                  F.col("dst").alias("_v"),
                  F.lit(None).cast(edges.schema["dst"].dataType)
                  .alias("_d"))))
    nodes = tagged.groupBy("_v").agg(
        F.min("_d").alias("_lo"), F.max("_d").alias("_hi"),
        F.count("_d").alias("_out"), F.count("*").alias("_all"))
    bad = nodes.where((F.col("_lo") != F.col("_hi"))
                      | ((F.col("_out") > 0)
                         & (F.col("_all") > F.col("_out"))))
    return bad.isEmpty()


def connected_components(pairs: DataFrame, all_ids: DataFrame,
                         max_iterations: int = 20) -> DataFrame:
    """pairs(id_a, id_b) + all_ids(image_id) -> (image_id, cluster_id).

    cluster_id = min image_id of the component; singletons label themselves.
    Raises RuntimeError if `max_iterations` rounds pass without reaching
    a star forest — labels of an unconverged graph are never returned.

    Cost per round: one src exchange per star (its window min feeds both
    of the star's outputs) and small-star's one distinct, plus the
    star-forest check's one aggregation, which is the round's only
    action (it materializes the lazy checkpoint). The input is neither
    de-duplicated nor checkpointed: both stars are duplicate-insensitive
    and small-star's output is distinct. The bench corpus's graph (small
    near-cliques of a base image and its dups) is a star forest after
    one round.

    The edge relation is orders of magnitude smaller than the pipeline's
    hit exchanges (verified pairs, not hits), but at the session's
    exchange-sized shuffle-partition count (256 at bench scale) the loop
    would schedule thousands of near-empty reduce tasks whose dispatch
    latency serializes in the scheduler — measured 15.8 s -> 52.9 s wall at
    69.7k images when the session went 32 -> 256 partitions. The loop
    therefore caps spark.sql.shuffle.partitions at 32 for its own rounds
    (restored after the last check; the lazy label join left for the
    caller is one tiny AQE-coalesced shuffle either way). The cap is NOT
    thread-safe vs concurrent planning on the same session —
    run_pipeline calls this after the concurrent branches have joined;
    the only job it overlaps, the lineage append, runs no shuffle.
    """
    spark = pairs.sparkSession
    conf_key = "spark.sql.shuffle.partitions"
    orig_parts = spark.conf.get(conf_key, "32")
    edges = (pairs.select(F.col("id_a").alias("src"),
                          F.col("id_b").alias("dst"))
             .where(F.col("src") != F.col("dst")))
    spark.conf.set(conf_key, str(min(int(orig_parts), 32)))
    try:
        for _ in range(max_iterations):
            edges = (_small_star(_large_star(edges))
                     .localCheckpoint(eager=False))
            if _is_star_forest(edges):
                break
        else:
            raise RuntimeError(
                f"connected components did not reach a star forest in "
                f"{max_iterations} rounds")
    finally:
        spark.conf.set(conf_key, orig_parts)
    # every non-min node points directly at its component min; minima
    # and isolated nodes label themselves
    labels = edges.select(F.col("src").alias("image_id"),
                          F.col("dst").alias("cluster_id"))
    return (all_ids.select("image_id")
            .join(labels, "image_id", "left")
            .select("image_id",
                    F.coalesce("cluster_id", "image_id").alias("cluster_id")))
