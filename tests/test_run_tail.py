"""run_pipeline's tail: the consolidated lineage append runs beside
connected components and commits on its own, and neither's error is
dropped when both fail."""

import pyspark.sql.functions as F
import pytest

from panako_spark import pipeline
from panako_spark.data import synth
from panako_spark.data.synth import rows_to_pandas
from panako_spark.io.checkpoint import CheckpointStore


def _cluster_fails(monkeypatch):
    def boom(*args, **kwargs):
        raise RuntimeError("clustering failed")

    monkeypatch.setattr(pipeline, "connected_components", boom)


@pytest.fixture(scope="module")
def images(spark):
    rows, _ = synth.generate_corpus(4, dup_fraction=0.5, seed=5)
    return spark.createDataFrame(rows_to_pandas(rows))


def test_lineage_commits_when_clustering_raises(spark, cfg, images,
                                                tmp_path, monkeypatch):
    """A run whose clustering raises still leaves its lineage and
    band-stats rows: they describe the branch checkpoints it wrote."""
    _cluster_fails(monkeypatch)
    store = CheckpointStore(str(tmp_path))
    with pytest.raises(RuntimeError, match="clustering failed"):
        pipeline.run_pipeline(spark, images, store, cfg)
    stages = {r["stage"] for r in store.read_lineage(spark)
              .where(F.col("run_id") == store.run_id).collect()}
    assert "bands_minhash" in stages, stages


def test_lineage_error_chains_to_clustering_error(spark, cfg, images,
                                                  tmp_path, monkeypatch):
    _cluster_fails(monkeypatch)

    def append_fails(self, df):
        raise OSError("lineage append failed")

    monkeypatch.setattr(CheckpointStore, "append_lineage", append_fails)
    with pytest.raises(OSError, match="lineage append failed") as ei:
        pipeline.run_pipeline(spark, images,
                              CheckpointStore(str(tmp_path)), cfg)
    assert "clustering failed" in str(ei.value.__context__)
