"""run_pipeline across runs on one store and one session: a run that
refuses its input leaves nothing a rerun resumes from, a run leaves the
session's Arrow batch size as it found it, and a resume that recomputes
only the tile branch reproduces its pairs."""

import pyspark.sql.functions as F
import pytest

from panako_spark.data import synth
from panako_spark.data.synth import rows_to_pandas
from panako_spark.io.checkpoint import CheckpointStore
from panako_spark.pipeline import run_pipeline

ARROW_KEY = "spark.sql.execution.arrow.maxRecordsPerBatch"


@pytest.fixture(scope="module")
def rows():
    rows, _ = synth.generate_corpus(6, dup_fraction=0.5, seed=7)
    return rows


def test_duplicate_ids_leave_no_complete_extract(spark, cfg, rows,
                                                 tmp_path):
    """The duplicate-image_id guard fires after the extract has written
    prints and signatures; both must be left incomplete, so a rerun on
    the de-duplicated input re-extracts instead of resuming from tables
    that hold a row per duplicate."""
    store = CheckpointStore(str(tmp_path))
    dup = spark.createDataFrame(rows_to_pandas(rows + rows[:1]))
    with pytest.raises(ValueError, match="distinct image_ids"):
        run_pipeline(spark, dup, store, cfg)
    assert not store.is_complete("prints")
    assert not store.is_complete("signatures")

    res = run_pipeline(spark, spark.createDataFrame(rows_to_pandas(rows)),
                       CheckpointStore(str(tmp_path)), cfg)
    assert store.read(spark, "signatures").count() == len(rows)
    assert res.clusters.count() == len(rows)
    assert res.dup_pairs.where(F.col("id_a") == F.col("id_b")).count() == 0


def test_run_restores_the_callers_arrow_batch_size(spark, cfg, rows,
                                                   tmp_path):
    before = spark.conf.get(ARROW_KEY)
    spark.conf.set(ARROW_KEY, "1000")
    try:
        run_pipeline(spark, spark.createDataFrame(rows_to_pandas(rows)),
                     CheckpointStore(str(tmp_path)), cfg)
        assert spark.conf.get(ARROW_KEY) == "1000"
    finally:
        spark.conf.set(ARROW_KEY, before)


def test_resume_recomputes_tile_pairs_through_the_stored_id_map(
        spark, cfg, tmp_path):
    """prints and signatures complete, tile_pairs not: the tile branch
    re-decodes the input and maps its fresh iids through the persisted
    signatures id map. The tile rows of dup_pairs must equal the first
    run's."""
    rows, _ = synth.generate_corpus(30, dup_fraction=0.5, seed=42)
    images = spark.createDataFrame(rows_to_pandas(rows))
    store = CheckpointStore(str(tmp_path))

    def tile_rows(res):
        return sorted(tuple(r) for r in res.dup_pairs
                      .where(F.col("channel") == "tile")
                      .select("id_a", "id_b").collect())

    first = tile_rows(run_pipeline(spark, images, store, cfg))
    assert first, "the corpus must exercise the tile channel"
    store.drop("tile_pairs", spark)
    # reversed input order: the re-decode mints iids unlike the stored
    # ones, so only the id-map join can give the first run's pairs
    again = spark.createDataFrame(rows_to_pandas(rows[::-1]))
    assert tile_rows(run_pipeline(spark, again, CheckpointStore(
        str(tmp_path)), cfg)) == first
