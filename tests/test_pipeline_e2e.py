"""Tracer-bullet end-to-end test (SURVEY.md §7 step 3).

Runs the full Spark pipeline on the deterministic synthetic corpus and
checks:
  1. PARITY — the pipeline's landmark pairs recover >= 0.99 of the golden
     (single-node reference-semantics) matcher's pairs at the SAME config
     (BASELINE.json north_rule criterion); each fused signature channel's
     pairs EQUAL the golden set.
  2. QUALITY — union-channel recall vs ground-truth cliques is 1.0 on this
     corpus (matches the golden matcher's own quality).
  3. CLUSTERS — connected-component labels equal the union-find golden.
  4. RESUME — a second run reuses every checkpoint (no recompute).
"""

import collections
import itertools

import pytest

from panako_spark.data import synth
from panako_spark.data.synth import rows_to_pandas
from panako_spark.io.checkpoint import CheckpointStore
from panako_spark.kernels.codec import to_gray
from panako_spark.kernels.matcher import (
    GoldenMatcher, caption_pairs_golden, connected_components_golden,
    phash_pairs_golden,
)
from panako_spark.pipeline import run_pipeline

N_BASE = 30


@pytest.fixture(scope="module")
def corpus():
    rows, _ = synth.generate_corpus(N_BASE, dup_fraction=0.5, seed=42)
    groups = collections.defaultdict(list)
    for r in rows:
        groups[r.image_id.split("_dup")[0]].append(r.image_id)
    clique = set()
    for g in groups.values():
        for a, b in itertools.combinations(sorted(g), 2):
            clique.add((a, b))
    return rows, clique


@pytest.fixture(scope="module")
def golden(corpus, cfg):
    rows, _ = corpus
    gm = GoldenMatcher(cfg)
    for r in rows:
        gm.store_image(r.image_id, to_gray(r.pixels), phash=r.phash)
    landmark = gm.dedup_pairs()
    caption = caption_pairs_golden({r.image_id: r.caption for r in rows}, cfg)
    caption["phash"] = phash_pairs_golden(
        {r.image_id: r.phash for r in rows}, cfg)
    union = set(landmark)
    for p in caption.values():
        union |= p
    return landmark, caption, union


@pytest.fixture(scope="module")
def pipeline_result(corpus, cfg, spark, tmp_path_factory):
    rows, _ = corpus
    images = spark.createDataFrame(rows_to_pandas(rows))
    store = CheckpointStore(str(tmp_path_factory.mktemp("ckpt")))
    res = run_pipeline(spark, images, store, cfg)
    pairs = {(r["id_a"], r["id_b"], r["channel"])
             for r in res.dup_pairs.collect()}
    labels = {r["image_id"]: r["cluster_id"] for r in res.clusters.collect()}
    return res, pairs, labels, store, images


def test_parity_landmark_channel(pipeline_result, golden):
    """Spark landmark channel ⊇ 0.99 of golden landmark pairs."""
    _, pairs, _, _, _ = pipeline_result
    landmark_golden, _, _ = golden
    spark_lm = {(a, b) for a, b, ch in pairs if ch == "landmark"}
    missed = landmark_golden - spark_lm
    recall = 1 - len(missed) / max(1, len(landmark_golden))
    assert recall >= 0.99, f"landmark parity {recall}: missed {sorted(missed)[:5]}"


def test_parity_caption_channels(pipeline_result, golden):
    """Each fused channel's pair set EQUALS its golden sibling's: no
    missed pair (recall) and no extra one (precision)."""
    _, pairs, _, _, _ = pipeline_result
    _, caption_golden, _ = golden
    for ch in ("caption_exact", "minhash", "simhash", "caption_substring",
               "phash"):
        spark_ch = {(a, b) for a, b, c in pairs if c == ch}
        g = caption_golden[ch]
        assert spark_ch == g, (
            f"{ch}: missed {sorted(g - spark_ch)[:5]}, "
            f"extra {sorted(spark_ch - g)[:5]}")


def test_union_parity_and_truth_recall(pipeline_result, golden, corpus):
    _, pairs, _, _, _ = pipeline_result
    *_, union_golden = golden
    _, clique = corpus
    spark_union = {(a, b) for a, b, _ in pairs}
    parity = len(spark_union & union_golden) / max(1, len(union_golden))
    assert parity >= 0.99, f"union parity {parity}"
    truth_recall = len(spark_union & clique) / len(clique)
    assert truth_recall >= 0.99, f"truth recall {truth_recall}"


def test_cluster_labels_match_union_find(pipeline_result, corpus):
    res, pairs, labels, _, _ = pipeline_result
    rows, _ = corpus
    ids = [r.image_id for r in rows]
    spark_union = {(a, b) for a, b, _ in pairs}
    want = connected_components_golden(spark_union, ids)
    assert labels == want


def test_psnr_invariant_all_rows(pipeline_result, spark):
    _, _, _, store, _ = pipeline_result
    sig = store.read(spark, "signatures")
    bad = sig.where("err is not null or not psnr_ok").count()
    assert bad == 0


def test_resume_reuses_checkpoints(pipeline_result, corpus, cfg, spark):
    """Second run over the same store recomputes nothing (manifests say
    complete) and returns identical pairs."""
    res1, pairs1, _, store, images = pipeline_result
    res2 = run_pipeline(spark, images, store, cfg)
    pairs2 = {(r["id_a"], r["id_b"], r["channel"])
              for r in res2.dup_pairs.collect()}
    assert pairs2 == pairs1


def test_lineage_written(pipeline_result, spark):
    _, _, _, store, _ = pipeline_result
    lin = store.read_lineage(spark)
    stages = {r["stage"] for r in lin.select("stage").distinct().collect()}
    assert "extract" in stages
    assert "bands_minhash" in stages
    cols = set(lin.columns)
    assert {"stage", "partition_id", "input_count", "signature_count",
            "band_count", "elapsed_ms", "run_id"} <= cols


def test_olaf_strategy_spark_golden_parity(spark, cfg, tmp_path):
    """E8: with strategy='olaf' (the reference's default rigid hash) the
    Spark landmark channel recovers the golden matcher's pair set at the
    same config — the same parity criterion as the Panako strategy."""
    ocfg = cfg.with_(strategy="olaf")
    rows, _ = synth.generate_corpus(12, dup_fraction=0.5, seed=77)
    gm = GoldenMatcher(ocfg)
    for r in rows:
        gm.store_image(r.image_id, to_gray(r.pixels), phash=r.phash)
    golden_pairs = gm.dedup_pairs()

    images = spark.createDataFrame(rows_to_pandas(rows))
    store = CheckpointStore(str(tmp_path))
    res = run_pipeline(spark, images, store, ocfg)
    spark_landmark = {(r["id_a"], r["id_b"])
                      for r in res.dup_pairs
                      .where("channel = 'landmark'").collect()}
    missing = golden_pairs - spark_landmark
    assert len(missing) / max(1, len(golden_pairs)) <= 0.01, missing


def test_parity_tile_channel(pipeline_result, corpus, cfg):
    """Crop-rescue tile channel: Spark == golden EXACTLY — the hit
    enumeration, hot-hash rule, Q5-Q13 kernel, and score gate are all
    deterministic and identical on both sides."""
    _, pairs, _, _, _ = pipeline_result
    rows, _ = corpus
    gm = GoldenMatcher(cfg)
    grays = {r.image_id: to_gray(r.pixels) for r in rows}
    phashes = {r.image_id: r.phash for r in rows}
    for i, g in grays.items():
        gm.store_image(i, g, phash=phashes[i])
    golden_tiles = gm.tile_rescue_pairs(grays)
    spark_tiles = {(a, b) for a, b, ch in pairs if ch == "tile"}
    assert spark_tiles == golden_tiles
