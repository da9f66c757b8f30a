"""Text-analysis / ANN operator tests beyond the DuckDB oracle gate:
tier equivalence for the exact near-dup operator, hot-shingle skew
stats, the LSH id-only pairing shape, and the document-dedup operators
against their DuckDB oracle."""

import os

import pytest

import pyspark.sql.functions as F

from panako_spark.functions import text as TXT
from panako_spark.operators import ann as ANN

SF = "/root/testdata/sf0.001"
SF01 = os.path.join(os.path.dirname(SF), "sf0.01")


def test_cosine_near_dup_tiers_identical_pairs(spark):
    """The blocked-GEMM tier must return exactly the same pair SET as the
    expression-level exact tier (it is exact, not approximate); only the
    last-ulp of the cos double may differ (summation order)."""
    gemm = ANN.cosine_near_dup_pairs(spark, SF, exact_limit=10)
    exact = ANN.cosine_near_dup_pairs(spark, SF, exact_limit=10**9)
    g = {(r.id_a, r.id_b) for r in gemm.collect()}
    e = {(r.id_a, r.id_b) for r in exact.collect()}
    assert g == e and len(g) > 0
    # cos values agree to float64 noise
    ge = {(r.id_a, r.id_b): r.cos for r in gemm.collect()}
    for r in exact.collect():
        assert abs(ge[(r.id_a, r.id_b)] - r.cos) < 1e-9


def test_cosine_near_dup_block_cogroup_tier_identical_pairs(spark):
    """Tier 3 (block-pair cogroup GEMM, no driver materialization) must
    also return the identical pair set — forced by shrinking
    broadcast_limit so the sf0.001 corpus spans several blocks."""
    blocked = ANN.cosine_near_dup_pairs(spark, SF, exact_limit=10,
                                        broadcast_limit=20)
    exact = ANN.cosine_near_dup_pairs(spark, SF, exact_limit=10**9)
    b = {(r.id_a, r.id_b) for r in blocked.collect()}
    e = {(r.id_a, r.id_b) for r in exact.collect()}
    assert b == e and len(b) > 0
    be = {(r.id_a, r.id_b): r.cos for r in blocked.collect()}
    for r in exact.collect():
        assert abs(be[(r.id_a, r.id_b)] - r.cos) < 1e-9


def test_ivf_trained_beats_untrained_recall(spark):
    """Trained centroids + redundant assignment must reach the disclosed
    recall (>=0.95 @ n_probe 8/16) on the sf0.01 embeddings — the corpus
    the claim and the DuckDB oracle are stated against (ann.ivf_topk
    docstring; at the 250-vector sf0.001 scale the 16-cell layout is
    over-parameterized and recall is noisier)."""
    brute = {(r.query_id, r.neighbor_id)
             for r in ANN.cosine_topk_bruteforce(spark, SF01).collect()}
    ivf = {(r.query_id, r.neighbor_id)
           for r in ANN.ivf_topk(spark, SF01, n_probe=8).collect()}
    recall = len(brute & ivf) / len(brute)
    assert recall >= 0.95, recall


def test_ngram_jaccard_hot_shingle_cap_reported(spark):
    """A low cap must (a) drop ubiquitous shingles from BOTH the
    intersection and the sizes, and (b) report the dropped volume —
    never silently."""
    stats_box: list = []
    capped = TXT.ngram_jaccard_pairs(spark, SF, max_shingle_df=2,
                                     stats_out=stats_box)
    capped.count()
    row = stats_box[0].collect()[0]
    assert row["n_hot_shingles"] > 0
    assert row["dropped_cross_pairs_estimate"] > 0
    assert row["n_shingles"] > row["n_hot_shingles"]


def test_ngram_jaccard_default_cap_is_noop_at_test_scale(spark):
    base = TXT.ngram_jaccard_pairs(spark, SF, max_shingle_df=10**9)
    capped = TXT.ngram_jaccard_pairs(spark, SF)
    assert sorted(map(tuple, base.collect())) == \
        sorted(map(tuple, capped.collect()))


def test_lsh_neighbors_pairs_before_embedding_join(spark):
    """Scale shape: the embedding array must not ride the band explode —
    the plan's exploded/banded side carries only (vec_id, key); unit
    vectors join the candidate set afterwards."""
    df = ANN.lsh_bucketed_neighbors(spark, SF)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    # the Generate (explode) node must project no unit-vector column
    gens = [seg for seg in plan.split("\n") if "Generate" in seg]
    assert gens, plan
    for g in gens:
        assert "ue" not in g, g
    df.count()  # and it still runs


def test_pch_kernel_matches_expression_form(spark):
    """The broadcast-NumPy PCH kernel and the pure-expression form must
    produce identical rows (integer overlap math + same tie-break)."""
    from panako_spark.operators.pch import (
        pch_circular_match, pch_circular_match_sql,
    )

    a = {tuple(r) for r in
         pch_circular_match(spark, SF, threshold=0.6).collect()}
    b = {tuple(r) for r in
         pch_circular_match_sql(spark, SF, threshold=0.6).collect()}
    assert a == b and len(a) > 0


def test_pch_raises_on_overflowing_area_bucket(spark):
    """PCH claims EXACT all-pairs equivalence, so an area bucket larger
    than pair_cap must raise loudly (silently dropping cross-salt pairs
    would shrink the result set). The events fixture is a degenerate
    near-equal-area corpus — nearly every entity lands in one bucket —
    so a tiny cap must overflow it."""
    from panako_spark.operators.pch import pch_circular_match

    with pytest.raises(ValueError, match="pair_cap"):
        pch_circular_match(spark, SF, threshold=0.6, pair_cap=2).collect()


def test_ann_repeat_calls_run_no_probe_actions(spark, monkeypatch):
    """VERDICT r3 #7: the count()/first() metadata probes must run at
    most once per embeddings path in-process. After a first call warms
    the memo, further operator invocations must not touch the driver-
    action probes at all (patched to raise here)."""
    from pyspark.sql import DataFrame

    ANN.lsh_bucketed_neighbors(spark, SF)       # warm (probe allowed)
    ANN.ivf_topk(spark, SF, n_queries=2, k=2)   # warm centroid memo
    # memo keys carry the file signature (ADVICE r4: path alone would
    # go stale when a fixture is regenerated in-process)
    sig = ANN._emb_sig(SF)
    assert sig in ANN._EMB_META and (sig, 16) in ANN._IVF_CENTROIDS

    def _boom(*a, **k):
        raise AssertionError("driver-action probe ran on a repeat call")

    monkeypatch.setattr(DataFrame, "count", _boom)
    monkeypatch.setattr(DataFrame, "first", _boom)
    monkeypatch.setattr(ANN, "_ivf_sample_spark", _boom)
    # plan construction for all three operators: no probe jobs
    ANN.lsh_bucketed_neighbors(spark, SF)
    ANN.ivf_topk(spark, SF, n_queries=2, k=2)
    ANN.cosine_near_dup_pairs(spark, SF)
    # and the hints skip the probe even on a cold path
    ANN._EMB_META.pop(sig)
    ANN.cosine_near_dup_pairs(spark, SF, n=500)
    ANN.lsh_bucketed_neighbors(spark, SF, dim=32)


@pytest.mark.skipif(not os.path.isdir(SF01), reason="sf0.01 fixture absent")
@pytest.mark.parametrize("name", ["minhash_dup_pairs_docs",
                                  "simhash_dup_pairs_docs"])
def test_doc_dedup_operators_match_duckdb_oracle(spark, name):
    """The documents dedup operators, as the driver runs them, return
    bit-exactly the rows of their DuckDB oracle: the LSH bands find every
    pair at exact Jaccard >= 0.5 (operators/dedup.py docstring)."""
    import duckdb

    import __spark_entry__ as E
    from tools.check_oracles import rowset

    sdf = E.queries()[name](spark, SF01)
    srows = [tuple(r) for r in sdf.collect()]
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{SF01}/documents.parquet')")
    orows = con.execute(E.oracle_sql()[name]).fetchall()
    ocols = [d[0] for d in con.description]
    assert sorted(sdf.columns) == sorted(ocols)
    assert srows
    assert rowset(sdf.columns, srows) == rowset(ocols, orows)


@pytest.mark.skipif(not os.path.isdir(SF01), reason="sf0.01 fixture absent")
def test_signature_operators_persist_nothing(spark, tmp_path):
    """The salted pairing primitive (candidates.pairs_from_keys) caches
    nothing, so the operators built on it, run as the driver runs them,
    leave the session's persisted RDDs as they found them. The fixture is
    copied first: a path no earlier call has read gives fresh plans, which
    a cache would not share with an earlier test's."""
    import shutil

    import __spark_entry__ as E

    sf = str(tmp_path / "sf")
    shutil.copytree(SF01, sf)
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    before = persisted().size()
    for name in ("minhash_dup_pairs_docs", "simhash_dup_pairs_docs",
                 "pch_circular_match"):
        assert E.queries()[name](spark, sf).count() > 0, name
    assert persisted().size() == before
