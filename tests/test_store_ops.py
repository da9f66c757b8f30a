"""Store-maintenance operator tests (S7/S8/Q16/Q17/Q19/S9)."""

import pyspark.sql.functions as F
import pytest

from panako_spark.data.synth import generate_corpus, rows_to_pandas
from panako_spark.io.checkpoint import CheckpointStore
from panako_spark.operators import store_ops as SO


@pytest.fixture(scope="module")
def corpus():
    rows, _ = generate_corpus(8, dup_fraction=0.5, seed=21)
    return rows


def _fresh_store(spark, corpus, tmp_path, cfg):
    store = CheckpointStore(str(tmp_path))
    images = spark.createDataFrame(rows_to_pandas(corpus))
    SO.store_incremental(spark, images, store, cfg)
    return store, images


def test_incremental_store_idempotent(spark, corpus, tmp_path, cfg):
    store, images = _fresh_store(spark, corpus, tmp_path, cfg)
    n1 = store.read(spark, "prints").count()
    # re-store: no new rows (Q19 hasResource semantics)
    out = SO.store_incremental(spark, images, store, cfg)
    assert out["new_images"] == 0
    assert store.read(spark, "prints").count() == n1


def test_incremental_store_appends_only_new(spark, corpus, tmp_path, cfg):
    store, _ = _fresh_store(spark, corpus[:6], tmp_path, cfg)
    ids1 = {r["image_id"] for r in
            store.read(spark, "signatures").select("image_id").collect()}
    more = spark.createDataFrame(rows_to_pandas(corpus))
    out = SO.store_incremental(spark, more, store, cfg)
    assert out["new_images"] == len(corpus) - 6
    ids2 = {r["image_id"] for r in
            store.read(spark, "signatures").select("image_id").collect()}
    assert ids2 == {r.image_id for r in corpus}
    assert ids1 < ids2


def test_delete_resources(spark, corpus, tmp_path, cfg):
    store, _ = _fresh_store(spark, corpus, tmp_path, cfg)
    victim = corpus[0].image_id
    SO.delete_resources(spark, store, [victim])
    for t in ("prints", "signatures"):
        assert store.read(spark, t).where(
            F.col("image_id") == victim).count() == 0
    assert store.is_complete("prints")


def test_delete_killed_mid_swap_leaves_table_incomplete(spark, corpus,
                                                        tmp_path, cfg,
                                                        monkeypatch):
    """The parquet delete removes the old copy, then moves the rewrite
    in. A kill between the two must leave an incomplete table (the next
    run recomputes it), never a complete manifest over a directory that
    no longer exists."""
    import shutil

    store, _ = _fresh_store(spark, corpus, tmp_path, cfg)

    def killed(*_a, **_k):
        raise OSError("killed mid-swap")

    monkeypatch.setattr(shutil, "move", killed)
    with pytest.raises(OSError, match="mid-swap"):
        SO.delete_resources(spark, store, [corpus[0].image_id])
    assert not store.is_complete("prints")


def test_clear(spark, corpus, tmp_path, cfg):
    store, _ = _fresh_store(spark, corpus, tmp_path, cfg)
    SO.clear(store)
    assert not store.is_complete("prints")
    assert not store.is_complete("signatures")


def test_store_statistics(spark, corpus, tmp_path, cfg):
    store, _ = _fresh_store(spark, corpus, tmp_path, cfg)
    row = SO.store_statistics(spark, store).collect()[0]
    assert row["n_images"] == len(corpus)
    assert row["n_prints"] > 0
    assert row["min_prints"] <= row["avg_prints"] <= row["max_prints"]
    assert row["n_errors"] == 0


def test_topk_matches(spark):
    verified = spark.createDataFrame(
        [("q", f"r{i}", s) for i, s in enumerate([5, 9, 7, 9, 3])],
        ["id_a", "id_b", "score"])
    top2 = SO.topk_matches(verified, 2).collect()
    assert [(r["id_b"], r["rnk"]) for r in
            sorted(top2, key=lambda r: r["rnk"])] == [("r1", 1), ("r3", 2)]


def test_same_images_pairwise(corpus, cfg):
    a = corpus[0]
    dup = next(r for r in corpus if r.image_id.startswith(a.image_id + "_dup")
               and "reencode" in r.image_id) if any(
        "reencode" in r.image_id and r.image_id.startswith(a.image_id)
        for r in corpus) else None
    other = next(r for r in corpus
                 if "_dup" not in r.image_id and r.image_id != a.image_id)
    if dup is not None:
        res = SO.same_images(dup.bytes, (dup.w, dup.h, dup.fmt),
                             a.bytes, (a.w, a.h, a.fmt), cfg)
        assert res is not None and res.score >= cfg.min_filtered_hits
    res2 = SO.same_images(other.bytes, (other.w, other.h, other.fmt),
                          a.bytes, (a.w, a.h, a.fmt), cfg)
    assert res2 is None or res2.score < 100


def test_incremental_store_refuses_config_drift(spark, corpus, tmp_path, cfg):
    """ADVICE fix: appending prints extracted under a different extractor
    config (log_freq toggled -> every landmark hash moves) must raise,
    not silently build a mixed-format store."""
    store, _ = _fresh_store(spark, corpus[:6], tmp_path, cfg)
    drifted = cfg.with_(log_freq=not cfg.log_freq)
    more = spark.createDataFrame(rows_to_pandas(corpus))
    with pytest.raises(ValueError, match="extractor"):
        SO.store_incremental(spark, more, store, drifted)
    # unchanged config still appends fine
    out = SO.store_incremental(spark, more, store, cfg)
    assert out["new_images"] == len(corpus) - 6


def test_incremental_store_manifest_rows_accumulate(spark, corpus, tmp_path,
                                                    cfg):
    """Manifests carry accumulated counts from job metrics (no read-back
    count jobs)."""
    store, _ = _fresh_store(spark, corpus[:6], tmp_path, cfg)
    m1 = store.manifest("signatures")
    assert m1["rows"] == 6
    SO.store_incremental(
        spark, spark.createDataFrame(rows_to_pandas(corpus)), store, cfg)
    m2 = store.manifest("signatures")
    assert m2["rows"] == len(corpus)
    # prints manifest matches the actual table row count
    assert store.manifest("prints")["rows"] == \
        store.read(spark, "prints").count()


def test_store_without_current_fingerprint_is_refused(spark, corpus,
                                                      tmp_path, cfg):
    """A store whose prints or signatures manifest carries an older
    extraction fingerprint (another extractor config, or an older table
    layout: config.STORE_FORMAT) or none at all is refused by both a
    run_pipeline resume and an incremental append, with a message that
    says to re-extract — never read half-compatibly."""
    from panako_spark.pipeline import run_pipeline

    store, images = _fresh_store(spark, corpus[:4], tmp_path, cfg)
    fp = cfg.extraction_fingerprint()
    for stale in ("0123456789abcdef", None):
        for table in ("prints", "signatures"):
            for t in ("prints", "signatures"):
                store._mark_complete(t, -1,
                                     config_fp=stale if t == table else fp)
            with pytest.raises(ValueError, match="re-extract"):
                run_pipeline(spark, images, store, cfg)
            with pytest.raises(ValueError, match="re-extract"):
                SO.store_incremental(spark, images, store, cfg)
