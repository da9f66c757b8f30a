"""The probe channels' shared stop-word count: the landmark and tile
channels build their stop-word sets over one per-hash image count
(candidates.hot_hash_counts), and a run_pipeline executes that count
once."""

import re

import pytest

from panako_spark.data import synth
from panako_spark.data.synth import rows_to_pandas
from panako_spark.io.checkpoint import CheckpointStore
from panako_spark.pipeline import run_pipeline
from panako_spark.stages.candidates import hot_hash_counts, hot_hash_set

N_STOP = 80


def _stop_word_prints(spark):
    """N_STOP images whose hashes sit in 2, 4, 8 and all N_STOP images:
    the four layers straddle the fixed and the corpus-scaled caps of the
    configs below."""
    rows = [(f"i{k:02d}", k, h, j + k % 3, (k + j) % 17)
            for k in range(N_STOP)
            for j, h in enumerate([1000 + k % 40, 2000 + k % 20,
                                   3000 + k % 10, 4000, 5000 + k])]
    return spark.createDataFrame(
        rows, "image_id string, iid long, hash long, t1 int, f1 int")


@pytest.mark.parametrize("overrides", [
    {},
    # effective cap max(2, 0.05 * 80) = 4 > fixed cap 2: the landmark
    # channel's stop words are a strict subset of the tile channel's
    {"hash_max_images": 2, "hash_max_images_frac": 0.05},
    {"hash_max_images": 0},
], ids=["default", "scaled_cap", "disabled"])
def test_stop_word_sets_filter_the_shared_count(spark, cfg, overrides):
    """Both probe channels' stop-word sets, each a filter over the one
    per-hash count (hot_hash_counts), hold exactly the hashes found in
    more distinct images than the channel's cap: the corpus-scaled cap
    for the landmark channel, the fixed cap for the tile channel."""
    c = cfg.with_(**overrides)
    prints = _stop_word_prints(spark)
    imgs: dict = {}
    for r in prints.collect():
        imgs.setdefault(r["hash"], set()).add(r["image_id"])

    def want(cap):
        return {h for h, ids in imgs.items() if len(ids) > cap}

    if c.hash_max_images <= 0:
        assert hot_hash_counts(prints, c) is None
        assert hot_hash_set(prints, c, n_images=N_STOP) is None
        return
    lm = {r["hash"] for r in hot_hash_set(prints, c, n_images=N_STOP)
          .collect()}
    tl = {r["hash"] for r in hot_hash_set(prints, c, cap=c.hash_max_images)
          .collect()}
    assert lm == want(c.effective_hash_max_images(N_STOP))
    assert tl == want(c.hash_max_images)
    assert lm <= tl and (lm != tl) is bool(overrides)


def test_stop_word_count_runs_once_per_run(spark, cfg, tmp_path):
    """Across every SQL execution of one run_pipeline, the final
    count(distinct image_id)-by-hash aggregate is ONE executed plan node
    (one metric accumulator), not one per probe channel."""
    rows, _ = synth.generate_corpus(6, dup_fraction=0.5, seed=5)
    images = spark.createDataFrame(rows_to_pandas(rows))
    status = spark._jsparkSession.sharedState().statusStore()

    def seq(s):
        return [s.apply(i) for i in range(s.size())]

    def executions():
        return seq(status.executionsList())

    first = max((e.executionId() for e in executions()), default=-1) + 1
    # cap 2 leaves hot hashes in this small corpus, so AQE cannot drop
    # the stop-word anti-joins (and the count's plan) as empty
    run_pipeline(spark, images, CheckpointStore(str(tmp_path)),
                 cfg.with_(hash_max_images=2))
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    final_count = re.compile(
        r"keys=\[hash#\d+L\], functions=\[count\(distinct image_id#")
    accs = {m.accumulatorId()
            for e in executions() if e.executionId() >= first
            for n in seq(status.planGraph(e.executionId()).allNodes())
            if n.name() == "HashAggregate" and final_count.search(n.desc())
            for m in seq(n.metrics()) if m.name() == "number of output rows"}
    assert len(accs) == 1, accs
