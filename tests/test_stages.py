"""Stage-level Spark tests: pair generation w/ hot-band splitting,
connected components vs union-find on adversarial graphs, checkpoint
resume-after-kill semantics."""

import os

import pyspark.sql.functions as F
import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from panako_spark.io.checkpoint import CheckpointStore
from panako_spark.kernels.matcher import connected_components_golden
from panako_spark.stages.candidates import pairs_from_keys
from panako_spark.stages.cluster import _is_star_forest, connected_components


# ------------------------------------------------------------ pairs/skew ----
def test_pairs_from_keys_small_band(spark):
    keyed = spark.createDataFrame(
        [("k1", "a"), ("k1", "b"), ("k1", "c"), ("k2", "a"), ("k2", "d")],
        ["key", "image_id"])
    pairs, stats = pairs_from_keys(keyed, cap=10)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert got == {("a", "b"), ("a", "c"), ("b", "c"), ("a", "d")}
    s = stats.collect()[0]
    assert s["n_hot_keys"] == 0
    assert s["dropped_cross_pairs_estimate"] == 0


def test_pairs_from_keys_hot_band_split(spark):
    """A key with 100 members at cap 10 must be salted: pair count drops
    from C(100,2)=4950 to ~10 sub-buckets of ~C(10,2), and the dropped
    cross-pair estimate is reported, never silent."""
    members = [("hot", f"id{i:03d}") for i in range(100)]
    keyed = spark.createDataFrame(members, ["key", "image_id"])
    pairs, stats = pairs_from_keys(keyed, cap=10)
    n = pairs.count()
    assert 0 < n < 1000  # far below the unsalted 4950
    s = stats.collect()[0]
    assert s["n_hot_keys"] == 1
    assert s["dropped_cross_pairs_estimate"] > 3000


def test_pairs_from_keys_dedups_multi_key_pairs(spark):
    keyed = spark.createDataFrame(
        [("k1", "a"), ("k1", "b"), ("k2", "a"), ("k2", "b")],
        ["key", "image_id"])
    pairs, _ = pairs_from_keys(keyed, cap=10)
    assert pairs.count() == 1


# ------------------------------------------------------------ clustering ----
def _cc_spark(spark, pair_list, ids):
    pairs = spark.createDataFrame(pair_list, ["id_a", "id_b"])
    all_ids = spark.createDataFrame([(i,) for i in ids], ["image_id"])
    out = connected_components(pairs, all_ids)
    return {r["image_id"]: r["cluster_id"] for r in out.collect()}


def test_cc_long_chain(spark):
    """Adversarial path graph: n000-n001-...-n059; large-star/small-star
    must converge in O(log n) rounds (within cc_max_iterations=20)."""
    ids = [f"n{i:03d}" for i in range(60)]
    chain = [(ids[i], ids[i + 1]) for i in range(59)]
    got = _cc_spark(spark, chain, ids)
    want = connected_components_golden({(a, b) for a, b in chain}, ids)
    assert got == want
    assert set(got.values()) == {"n000"}


def test_cc_unconverged_raises(spark):
    """One round cannot collapse the 60-node chain into stars; the loop
    must refuse to return labels rather than hand back a partial
    clustering."""
    ids = [f"n{i:03d}" for i in range(60)]
    pairs = spark.createDataFrame(
        [(ids[i], ids[i + 1]) for i in range(59)], ["id_a", "id_b"])
    all_ids = spark.createDataFrame([(i,) for i in ids], ["image_id"])
    with pytest.raises(RuntimeError, match="star forest"):
        connected_components(pairs, all_ids, max_iterations=1)


@pytest.mark.parametrize("edges,converged", [
    # d points at two minima, neither of which is a src: "no dst is a
    # src" alone would accept this
    ([("d", "a"), ("d", "b")], False),
    # 2-hop chain: one dst per src, but b is both
    ([("c", "b"), ("b", "a")], False),
    # two stars centred on their minima
    ([("b", "a"), ("c", "a"), ("d", "a"), ("y", "x"), ("z", "x")], True),
], ids=["two_minima", "chain", "star_forest"])
def test_cc_star_forest_predicate(spark, edges, converged):
    df = spark.createDataFrame(edges, ["src", "dst"])
    assert _is_star_forest(df) is converged


def test_cc_multiple_components_and_singletons(spark):
    ids = [f"x{i}" for i in range(10)]
    pairs = [("x0", "x1"), ("x1", "x2"), ("x4", "x5"), ("x6", "x7"),
             ("x7", "x6")]
    got = _cc_spark(spark, pairs, ids)
    want = connected_components_golden({(min(a, b), max(a, b))
                                        for a, b in pairs}, ids)
    assert got == want
    assert got["x3"] == "x3" and got["x8"] == "x8" and got["x9"] == "x9"


_CC_NODES = [f"v{i:02d}" for i in range(12)]


@settings(max_examples=12, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.too_slow])
@given(edges=st.lists(st.tuples(st.sampled_from(_CC_NODES),
                                st.sampled_from(_CC_NODES)), max_size=24))
def test_cc_matches_union_find_with_duplicate_edges_and_self_loops(
        spark, edges):
    """The loop takes its input edges as they come (no distinct): random
    small graphs with repeated edges in both orientations and self-loops
    give the union-find labels."""
    pair_list = edges + [(b, a) for a, b in edges[::2]]
    pairs = spark.createDataFrame(pair_list, "id_a string, id_b string")
    all_ids = spark.createDataFrame([(i,) for i in _CC_NODES],
                                    "image_id string")
    got = {r["image_id"]: r["cluster_id"]
           for r in connected_components(pairs, all_ids).collect()}
    assert got == connected_components_golden(set(pair_list), _CC_NODES)


def test_cc_star_and_clique(spark):
    ids = [f"s{i}" for i in range(8)]
    pairs = ([("s0", f"s{i}") for i in range(1, 5)]
             + [(f"s{i}", f"s{j}") for i in range(5, 8)
                for j in range(i + 1, 8)])
    got = _cc_spark(spark, pairs, ids)
    want = connected_components_golden({(min(a, b), max(a, b))
                                        for a, b in pairs}, ids)
    assert got == want


# ------------------------------------------------------------- checkpoint ---
def test_checkpoint_incomplete_without_manifest(spark, tmp_path):
    store = CheckpointStore(str(tmp_path))
    df = spark.range(10).select(F.col("id"))
    # simulate a killed run: data written but manifest never created
    df.write.mode("overwrite").parquet(store.path("t"))
    assert not store.is_complete("t")
    # read_or_compute recomputes and completes
    out = store.read_or_compute(spark, "t", lambda: spark.range(5).select("id"))
    assert store.is_complete("t")
    assert out.count() == 5


def test_checkpoint_resume_skips_compute(spark, tmp_path):
    store = CheckpointStore(str(tmp_path))
    store.write(spark.range(7).select("id"), "t")
    calls = []

    def compute():
        calls.append(1)
        return spark.range(3).select("id")

    out = store.read_or_compute(spark, "t", compute)
    assert not calls
    assert out.count() == 7


def test_read_or_compute_fresh_table_runs_one_job(spark, tmp_path):
    """A fresh stage costs its write job alone: the re-read carries the
    written frame's schema, so no parquet footer-inference job follows
    it on the driver's serial path."""
    store = CheckpointStore(str(tmp_path))
    sc = spark.sparkContext
    sc.setJobGroup("read_or_compute_fresh", "read_or_compute")
    try:
        out = store.read_or_compute(
            spark, "t", lambda: spark.range(10).select(
                "id", (F.col("id") * 2).alias("x")))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup(
        "read_or_compute_fresh")) == 1
    # the carried schema is the one inference would have read back
    assert out.schema == spark.read.parquet(store.path("t")).schema
    assert sorted(r["x"] for r in out.collect()) == list(range(0, 20, 2))


def test_checkpoint_invalidate(spark, tmp_path):
    store = CheckpointStore(str(tmp_path))
    store.write(spark.range(7).select("id"), "t")
    store.invalidate("t")
    assert not store.is_complete("t")


def test_lineage_append_accumulates(spark, tmp_path):
    store = CheckpointStore(str(tmp_path), run_id="r1")
    ldf = spark.createDataFrame(
        [("s", 0, 10, 10, 0, 5, "r1")],
        "stage string, partition_id int, input_count long, "
        "signature_count long, band_count long, elapsed_ms long, "
        "run_id string")
    store.append_lineage(ldf)
    store.append_lineage(ldf)
    assert store.read_lineage(spark).count() == 2


# --------------------------------------------------------- backend select ---
def test_backend_selection_auto_falls_back_to_parquet(spark, tmp_path):
    """No Iceberg catalog is configured in this sandbox: auto must
    resolve to the parquet fallback and behave identically."""
    store = CheckpointStore(str(tmp_path), backend="auto")
    df = spark.range(5).withColumnRenamed("id", "x")
    store.write(df, "t")
    assert store._use_iceberg is False
    assert store.read(spark, "t").count() == 5


def test_backend_selection_iceberg_refuses_silent_downgrade(spark, tmp_path):
    """backend='iceberg' with no catalog must raise, never silently
    write parquet."""
    store = CheckpointStore(str(tmp_path), backend="iceberg")
    df = spark.range(3).withColumnRenamed("id", "x")
    with pytest.raises(RuntimeError, match="iceberg"):
        store.write(df, "t")


def test_backend_selection_validates_name(tmp_path):
    with pytest.raises(ValueError):
        CheckpointStore(str(tmp_path), backend="deltalake")


def test_iceberg_available_probe(spark):
    from panako_spark.io.checkpoint import iceberg_available

    assert iceberg_available(spark, "panako") is False  # not configured
