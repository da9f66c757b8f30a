"""Physical-plan property tests: the 100 TB contract, enforced.

These assert the plans Catalyst actually produces — broadcast where a
dimension is small, filter pushdown to the parquet scan, column pruning,
zero Python nodes in JVM-only operators, bounded shuffle counts.
"""

import pyspark.sql.functions as F
import pytest

from panako_spark.operators import ann as ANN
from panako_spark.operators import relational as R
from panako_spark.functions import text as TXT
from panako_spark.plans.inspect import (
    codegen_stage_count, has_broadcast_join, has_python_eval,
    pushed_filters, read_schemas, shuffle_count,
)

SF = "/root/testdata/sf0.001"


def test_lookup_join_broadcasts_dimension(spark):
    df = R.resource_lookup_join(spark, SF)
    assert has_broadcast_join(df)
    assert not has_python_eval(df)


def test_filter_pushdown_reaches_scan(spark):
    df = (spark.read.parquet(f"{SF}/orders.parquet")
          .where(F.col("o_totalprice") > 100.0)
          .select("o_orderkey"))
    pf = pushed_filters(df)
    assert pf and any("o_totalprice" in f for f in pf), pf


def test_column_pruning_on_projection(spark):
    df = TXT.token_count(spark, SF)
    schemas = read_schemas(df)
    # the scan must read only doc_id and text, not lang/source/n_chars
    assert schemas and all("source" not in s and "lang" not in s
                           for s in schemas), schemas


def test_relational_operators_are_jvm_only(spark):
    """No Python evaluation node may appear in any SQL-expressible
    operator — UDFs are the slow path and these don't need them."""
    for name, fn in [
        ("stats_scan", R.stats_scan),
        ("min_hits_gate", R.min_hits_gate),
        ("topk_per_group", R.topk_per_group),
        ("near_hash_band_join", R.near_hash_band_join),
        ("coverage_histogram", R.coverage_histogram),
        ("ngram_jaccard_pairs", TXT.ngram_jaccard_pairs),
        ("quality_score", TXT.quality_score),
        ("embedding_topk", ANN.cosine_topk_bruteforce),
    ]:
        df = fn(spark, SF)
        assert not has_python_eval(df), f"{name} has a Python node"


def test_hot_operators_run_in_codegen(spark):
    """After execution the AQE final plan must show WholeStageCodegen
    spans covering the hot expressions."""
    for name, fn in [("min_hits_gate", R.min_hits_gate),
                     ("near_hash_band_join", R.near_hash_band_join)]:
        df = fn(spark, SF)
        assert codegen_stage_count(df, execute=True) >= 1, name


def test_embedding_topk_broadcasts_queries(spark):
    df = ANN.cosine_topk_bruteforce(spark, SF)
    assert has_broadcast_join(df) or "BroadcastNestedLoopJoin" in \
        __import__("panako_spark.plans.inspect", fromlist=["plan"]).plan(df)


def test_stats_scan_single_shuffle(spark):
    # global aggregate: one exchange (partial -> final)
    assert shuffle_count(R.stats_scan(spark, SF)) <= 1


def test_min_hits_gate_single_shuffle(spark):
    # groupBy + HAVING must be ONE exchange with partial aggregation
    assert shuffle_count(R.min_hits_gate(spark, SF)) <= 1

def _landmark_verify(spark, cfg):
    from panako_spark.stages.candidates import landmark_hits
    from panako_spark.stages.verify import run_verify

    prints = spark.createDataFrame(
        [(f"i{k}", k, (k * 37) % 91, k % 7, k % 5) for k in range(300)],
        "image_id string, iid long, hash long, t1 int, f1 int")
    return run_verify(landmark_hits(prints, cfg, numeric_ids=True), cfg,
                      numeric_ids=True)


def _tile_verify(spark, cfg):
    from panako_spark.stages.candidates import tile_hits
    from panako_spark.stages.verify import run_tile_verify

    prints = spark.createDataFrame(
        [(f"i{k}", k, (k * 37) % 91, k % 7, k % 5, True)
         for k in range(300)],
        "image_id string, iid long, hash long, t1 int, f1 int, "
        "is_std boolean")
    tile_prints = spark.createDataFrame(
        [(f"i{k}", k, k % 4, (k * 37) % 91, k % 7, k % 5)
         for k in range(300)],
        "image_id string, iid long, tile_id int, hash long, t1 int, f1 int")
    return run_tile_verify(tile_hits(tile_prints, prints, cfg), cfg)


@pytest.mark.parametrize("build", [_landmark_verify, _tile_verify],
                         ids=["landmark", "tile"])
def test_verify_stage_single_pair_exchange(spark, cfg, build):
    """The verify redesign's core invariant: between the hit relation
    and the Python kernel there is exactly ONE exchange (the pair-key
    repartition); the Q5 gate is a JVM Window+Filter on that exchange's
    own sort, and the kernel is the only Python node. The exchange
    carries no partition count (REPARTITION_BY_COL), so AQE coalesces
    it by bytes; REPARTITION_BY_NUM is never coalesced and would pin one
    Python task per partition however little the hits weigh."""
    from panako_spark.plans.inspect import plan

    v = build(spark, cfg)
    tree = plan(v).split("\n\n", 1)[0]  # the indented operator tree only
    assert tree.count("MapInPandas") == 1
    assert "Window" in tree
    # tree prints top-down: the segment between the python node and the
    # probe join it consumes must contain exactly one Exchange (the
    # pair-key repartition that Window/Sort/Filter all reuse)
    segment = tree.split("MapInPandas", 1)[1].split("SortMergeJoin", 1)[0]
    assert segment.count("Exchange") == 1, segment
    # the kernel's contiguity contract: an explicit pair-key sort feeds
    # the python node (sortWithinPartitions); Catalyst must satisfy it
    # from the Window's own required ordering WITHOUT a second exchange
    # (asserted above) but a Sort node must be present
    assert "Sort" in segment, segment
    simple = plan(v, "simple")
    exchange = simple.split("MapInPandas", 1)[1].split("SortMergeJoin", 1)[0]
    assert "REPARTITION_BY_NUM" not in exchange, exchange
    assert "REPARTITION_BY_COL" in exchange, exchange


def test_probe_join_converts_to_shuffled_hash(spark, cfg):
    """AQE must swap the landmark probe join's sort-merge for a
    shuffled-hash join at runtime (session factory sets
    maxShuffledHashJoinLocalMapThreshold=128m): the probe join's sorts
    are pure overhead because the verify exchange re-partitions by pair
    id anyway. Measured on the pinned 2-vs-8-core protocol this halved
    the join's CPU at 8 busy cores (311->165 core-s at 11.6k images).
    Broadcast is disabled for the test so the conversion path — the one
    a >64 MB store side takes at scale — is the one exercised."""
    from panako_spark.plans.inspect import plan
    from panako_spark.stages.candidates import landmark_hits

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        prints = spark.createDataFrame(
            [(f"i{k}", k, (k * 37) % 997, k % 7, k % 5)
             for k in range(3000)],
            "image_id string, iid long, hash long, t1 int, f1 int")
        hits = landmark_hits(prints, cfg, numeric_ids=True)
        hits.collect()  # finalize the AQE plan
        p = plan(hits, "simple")
        # the INNER ±range probe join (the pipeline's widest shuffle)
        # must be hash, not sort-merge; the hot-hash LEFT ANTI joins may
        # stay sort-merge here — with broadcast enabled (production)
        # their tiny build side broadcasts anyway
        p = p.split("Initial Plan", 1)[0]  # AQE prints final+initial
        inner = [ln for ln in p.splitlines() if "Join" in ln
                 and "Inner" in ln]
        assert inner and all("ShuffledHashJoin" in ln for ln in inner), p
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_fused_pairs_single_keyed_pass(spark, cfg, tmp_path):
    """The fused signature flow's shape: the keyed relation is ONE
    generator over ONE signatures scan (no per-channel union), the only
    cached intermediate is the key-count frame, and the candidate pairs
    meet the per-image relation exactly once per side — the bit gates
    run inside the self-join, the MinHash/substring gates and the id
    resolve share that one join pair."""
    import re

    from panako_spark.stages.candidates import fused_candidate_pairs

    perms = cfg.minhash_perms
    spark.createDataFrame(
        [(f"i{k}", k, [k % 3, 7], [k % 2], k * 11, [k % 4, 1], k * 5,
          k * 3, [k % 2] * perms) for k in range(20)],
        "image_id string, iid long, mh_bands array<bigint>, "
        "sh_bands array<bigint>, simhash bigint, substr_fps array<bigint>, "
        "caption_hash bigint, phash bigint, minhash array<bigint>",
    ).write.parquet(str(tmp_path / "signatures"))
    sigs = spark.read.parquet(str(tmp_path / "signatures"))
    images = spark.createDataFrame(
        [(f"i{k}", f"caption {k % 3} with enough text to fingerprint")
         for k in range(20)], "image_id string, caption string")
    caches: list = []
    pairs, _ = fused_candidate_pairs(sigs, images, cfg, caches=caches)
    try:
        assert len(caches) == 1, caches
        (counts,) = caches
        assert counts.columns == ["channel", "key", "_n"]
        keyed = counts._jdf.queryExecution().analyzed().toString()
        assert "Union" not in keyed, keyed
        assert keyed.count("Generate inline(") == 1, keyed
        assert keyed.count("Relation [") == 1, keyed

        opt = pairs._jdf.queryExecution().optimizedPlan().toString()
        assert "Union" not in opt, opt
        side_joins = [ln for ln in opt.splitlines() if "Join " in ln and
                      re.search(r"\(id_([ab])#\d+L = id_\1#\d+L\)", ln)]
        assert len(side_joins) == 2, "\n".join(side_joins)
        assert pairs.count() > 0
    finally:
        for c in caches:
            c.unpersist()
