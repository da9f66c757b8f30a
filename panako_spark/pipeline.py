"""End-to-end dedup pipeline: the Spark re-expression of the reference's
store -> query -> dedup lifecycle (SURVEY.md §3):

    images (Iceberg/parquet)
      -> extract [mapInPandas, one decode pass, in-memory persist]
      -> prints / signatures                          checkpoints
      -> per-hash image count (stop words)           persisted, shared
      -> three concurrent branches:
         landmark ±range self-join -> verify [mapInPandas Q5-Q13 kernel]
           -> rescue gate                             checkpoint: verified
         fused signature channels: one keyed pass (MinHash/SimHash/phash
         bands, exact caption, substring fingerprints) -> salted
         self-join gating the bit channels -> MinHash/substring gate
                                                      checkpoint: fused_pairs
         crop-rescue tile probes -> tile verify -> rescue gate
                                                      checkpoint: tile_pairs
      -> connected components (large-star/small-star) checkpoint: clusters
         ∥ one lineage append                         lineage

Each branch's pairs meet the per-image relation once per side: that one
join (candidates.resolve_pairs) gates the pair and resolves its int64
ids to string image_ids.

Every stage goes through CheckpointStore.read_or_compute, so a killed run
resumes at the first incomplete stage (reference analog: the fingerprint
file cache, PanakoStrategy.java:181-207). Per-partition lineage rows and
per-channel band stats append to the lineage table on every (re)run.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from panako_spark.config import PanakoConfig
from panako_spark.io.checkpoint import (
    LINEAGE_SCHEMA, CheckpointStore, local_frame,
)
from panako_spark.stages import candidates as C
from panako_spark.stages.cluster import connected_components
from panako_spark.stages.extract import (
    lineage_from_extracted, run_extract, split_prints, split_signatures,
    split_tile_prints,
)
from panako_spark.stages.verify import run_tile_verify, run_verify

# Arrow batch rows per stage: image rows are ~200 KB, so extract wants
# small batches, while the flat-int stages after it want big ones
EXTRACT_ARROW_ROWS = 256
FLAT_ARROW_ROWS = 8192


@dataclass
class PipelineResult:
    clusters: DataFrame
    dup_pairs: DataFrame
    stats: dict


def materialize_extract(spark: SparkSession, images: DataFrame,
                        store: CheckpointStore, cfg: PanakoConfig,
                        stats: dict | None = None,
                        lineage_sink: list | None = None
                        ) -> tuple[DataFrame, DataFrame, DataFrame | None]:
    """One decode pass -> durable prints + signatures checkpoints.

    The extract output is NOT checkpointed: its rows carry ~600-element
    print arrays per image, and Spark's parquet writer takes the slow
    row-oriented path for nested columns — measured on the 87k-image
    bench corpus, writing that intermediate cost ~4x the extract compute
    itself and, being core-count-independent, capped store-mode scaling
    at ~0.25 efficiency. Instead the extract persists in memory/disk for
    exactly two consumers: prints (exploded to FLAT columns — the
    vectorized parquet path) and signatures (one nested row per image).
    Resume reads the two durable tables; the ephemeral intermediate is
    recomputed only if neither is complete. A resume first checks both
    manifests' extraction fingerprint (config.STORE_FORMAT included):
    a store written under another extractor config or table layout is
    refused with ValueError instead of being read half-compatibly.

    The third return value is the still-PERSISTED extract relation (None
    on the resume path): the crop-rescue tile branch reads its tile
    probe arrays from the same cache — one decode pass feeds everything.
    The caller unpersists it once the tile branch is done.

    Given a `lineage_sink` list, the extract's lazy per-partition
    lineage aggregate is appended to it instead of being written: the
    caller collects it before unpersisting the extract. The fresh
    tables' re-reads carry the schemas just written, so they run no
    footer-inference job.
    """
    fp = cfg.extraction_fingerprint()
    if store.is_complete("prints") and store.is_complete("signatures"):
        store.check_config_fp("prints", fp)
        store.check_config_fp("signatures", fp)
        return (store.read(spark, "prints"),
                store.read(spark, "signatures"), None)
    stats = stats if stats is not None else {}
    extracted = run_extract(images, cfg).persist()
    ok = False
    try:
        t0 = time.monotonic()
        # prints carry no pre-partitioning: the landmark probe join
        # shuffles on the expanded probe_hash anyway. This first action
        # materializes extract into the cache as a side effect.
        prints = split_prints(extracted)
        store.write(prints, "prints", config_fp=fp)
        stats["t_extract_prints_s"] = round(time.monotonic() - t0, 2)
        t0 = time.monotonic()
        signatures = split_signatures(extracted)
        store.write(signatures, "signatures", config_fp=fp)
        stats["t_signatures_s"] = round(time.monotonic() - t0, 2)
        lin = lineage_from_extracted(extracted, "extract", store.run_id)
        if lineage_sink is not None:
            # defer: the caller collects this aggregate off its critical
            # path while the extract is still cached, and batches every
            # lineage row into ONE append at the end of the run
            lineage_sink.append(lin)
        else:
            t0 = time.monotonic()
            store.append_lineage(lin)
            stats["t_lineage_s"] = round(time.monotonic() - t0, 2)
        ok = True
    finally:
        if not ok:
            extracted.unpersist()
    return (store.read(spark, "prints", schema=prints.schema),
            store.read(spark, "signatures", schema=signatures.schema),
            extracted)


def corpus_census(images: DataFrame) -> tuple[int, int]:
    """(n_rows, n_distinct_ids) in ONE action.

    Feeds the corpus-size-aware stop-word cap and the duplicate-image_id
    guard (a store is keyed by image_id; duplicate input rows would mint
    two iids for one id and silently diverge from the golden matcher)."""
    row = images.agg(
        F.count("*").alias("n"),
        F.countDistinct("image_id").alias("nd")).first()
    return int(row["n"]), int(row["nd"])


def rescue_gate(pairs: DataFrame, signatures: DataFrame, cfg: PanakoConfig,
                ids: tuple[str, str] = ("id_a", "id_b")) -> DataFrame:
    """Verified int64-id pairs -> gated pairs with canonical string ids.

    Rescued pairs face the stricter composite gate
    (config.rescue_min_score block — the print-rescue precision guard):
    strong alignment alone, or decent alignment corroborated by the
    independent phash signal. The (iid, image_id, rescued, phash)
    per-image relation joins each pair side once, and that one join
    both gates the pair and resolves its string ids
    (candidates.resolve_pairs; golden sibling: GoldenMatcher._pair_ok).

    No broadcast hint: the per-image relation is 10^12 rows at target
    scale, while the verified relation it joins is post-gate and usually
    far smaller — AQE picks broadcast at runtime when a side is actually
    small, and an equi-join on the int64 id is the safe default either
    way."""
    ham = F.bit_count(F.col("phash_a").bitwiseXOR(F.col("phash_b")))
    pair_rescued = (F.coalesce("rescued_a", F.lit(False))
                    | F.coalesce("rescued_b", F.lit(False)))
    keep = (~pair_rescued
            | (F.col("score") >= cfg.rescue_strong_score)
            | ((F.col("score") >= cfg.rescue_min_score)
               & (ham <= cfg.rescue_phash_max)))
    return C.resolve_pairs(
        pairs, signatures.select("iid", "image_id", "rescued", "phash"),
        keep, ids)


def run_pipeline(spark: SparkSession, images: DataFrame, store: CheckpointStore,
                 cfg: PanakoConfig | None = None) -> PipelineResult:
    """Scaling-efficiency discipline (BASELINE.json: >=0.8 N->4N): the
    driver-serial term is minimized by
    (a) overlapping independent DAG branches — the corpus census rides
        alongside extract, and the landmark verify, fused signature and
        tile branches run CONCURRENTLY from three submitter threads
        (Spark schedules all three job DAGs; barrier gaps and
        Python-worker phases of one branch are filled with the others'
        tasks);
    (b) no repeated work across the branches: the landmark and tile
        probes build their stop-word sets over ONE persisted per-hash
        image count (candidates.hot_hash_counts; Spark's cache manager
        substitutes it into both plans), computed by whichever branch
        scans it first;
    (c) no small job on the driver's serial path: the extract lineage
        aggregate and the fused band stats are collected on pool
        threads while the branches write, checkpoint re-reads carry the
        written schema (no footer-inference job), and the one
        consolidated lineage append (an Arrow-built LocalTableScan, no
        Python worker) runs on a pool thread, labelled
        panako:lineage, while connected components runs; it is awaited
        before the call returns, so its error propagates. The append
        commits independently of clustering: a run whose clustering
        raises still leaves its lineage and band-stats rows, which
        describe the branch checkpoints it did write;
    (d) no dup_pairs re-write — the union of the three checkpointed
        branch tables IS the pair set.

    If any stage raises, every pool thread is waited for and the run's
    caches are released before the error propagates: no branch keeps
    writing checkpoints after the call returns."""
    cfg = cfg or PanakoConfig()
    stats: dict = {}
    t_start = time.monotonic()
    from concurrent.futures import ThreadPoolExecutor

    lineage_frames: list = []
    # persisted frames this run releases: the extract cache and the
    # shared stop-word counts (repeated runs in one session must not
    # leak executor memory)
    held: list = []

    def release() -> None:
        while held:
            held.pop().unpersist()

    def label(name: str) -> None:
        # thread-local job label: every Spark job this thread submits
        # shows as panako:<stage> in the UI/event log — the concurrent
        # branches are otherwise indistinguishable "parquet at ..."
        # writes when profiling
        try:
            spark.sparkContext.setJobDescription(f"panako:{name}")
        except Exception:  # noqa: BLE001 — labels must never fail a run
            pass

    # the Arrow batch size is set per stage below and restored on the
    # way out: the caller's later mapInPandas jobs keep their own
    arrow_key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    arrow_rows = spark.conf.get(arrow_key)
    ex = ThreadPoolExecutor(max_workers=5, thread_name_prefix="panako-run")
    try:
        # census (tiny id-only aggregate) overlaps the extract scan
        def _census():
            label("census")
            return corpus_census(images)

        census_fut = ex.submit(_census)

        def timed(name: str, fn):
            t0 = time.monotonic()
            label(name)
            out = fn()
            stats[f"t_{name}_s"] = round(time.monotonic() - t0, 2)
            return out

        def arrow_batch(rows: int) -> None:
            spark.conf.set(arrow_key, str(rows))

        # ---- extract (one decode pass) -------------------------------------
        arrow_batch(EXTRACT_ARROW_ROWS)
        prints, signatures, extracted = timed(
            "extract", lambda: materialize_extract(
                spark, images, store, cfg, stats,
                lineage_sink=lineage_frames))
        if extracted is not None:
            held.append(extracted)

        def collect_lineage() -> list:
            # overlaps the branches; reads the extract cache, so it is
            # awaited before the cache is released
            t0 = time.monotonic()
            label("extract")
            rows = [tuple(r) for lin in lineage_frames
                    for r in lin.collect()]
            stats["t_lineage_s"] = round(time.monotonic() - t0, 2)
            return rows

        lineage_fut = (ex.submit(collect_lineage)
                       if lineage_frames else None)

        n_images, n_ids = census_fut.result()
        if n_images != n_ids:
            if extracted is not None:
                # this run wrote prints and signatures from the duplicated
                # input: a rerun must re-extract, not resume from them
                store.invalidate("prints")
                store.invalidate("signatures")
            raise ValueError(
                f"input has {n_images} rows but only {n_ids} distinct "
                "image_ids. A store is keyed by image_id; duplicate rows "
                "would mint multiple iids for one id and silently diverge "
                "from reference semantics — dedupe the input "
                "(dropDuplicates('image_id')) and rerun.")
        stats["n_images"] = n_images
        stats["n_distinct_ids"] = n_ids

        # ---- landmark verify ∥ fused signature channels ---------------------
        arrow_batch(FLAT_ARROW_ROWS)
        # one per-hash image count feeds both probe channels' stop-word
        # sets (each builds its set over hot_hash_counts, and the cache
        # manager substitutes this frame); the first branch to scan it
        # fills the cache
        hot_counts = C.hot_hash_counts(prints, cfg)
        if hot_counts is not None:
            held.append(hot_counts.persist())

        def compute_verified() -> DataFrame:
            # Q5's min-hits gate runs inside the verify kernel (one
            # shuffle on the pair key); the widest shuffle of the
            # pipeline runs on int64 ids, resolved back to strings by
            # the rescue gate's join. The stop-word cap is a function of
            # DISTINCT stored images
            # (the golden matcher counts len(self._prints)); feeding the
            # raw row count would diverge on duplicate image_id inputs
            v = run_verify(C.landmark_hits(prints, cfg, n_images=n_ids),
                           cfg)
            return rescue_gate(v, signatures, cfg)

        band_futs: list = []

        def compute_fused() -> DataFrame:
            fused, fused_stats = C.fused_candidate_pairs(signatures, images,
                                                         cfg)

            def collect_bands() -> list:
                label("pairs")
                return fused_stats.collect()

            # the band stats are their own small aggregate: collected on
            # a pool thread next to the pairs write, not before it
            band_futs.append(ex.submit(collect_bands))
            return fused.select("channel", "id_a", "id_b")

        def compute_tile_pairs() -> DataFrame:
            # crop-rescue channel: tile probe prints (query-time
            # ephemera from the SAME decode pass, riding the extract
            # cache) probe the stored prints; verify per directed (query,
            # stored image, tile) run; accept at score >= tile_min_score.
            # Golden sibling: GoldenMatcher.tile_rescue_pairs.
            if extracted is not None:
                tp = split_tile_prints(extracted)
            else:
                # resumed run whose tile_pairs checkpoint is missing:
                # one re-decode pass (the documented resume trade — tile
                # prints are never persisted). Freshly minted iids are
                # NOT the store's ids; remap through the persisted
                # signatures id map.
                ext2 = run_extract(images, cfg)
                tp = (split_tile_prints(ext2).drop("iid")
                      .join(signatures.select("image_id", "iid"),
                            "image_id"))
            tv = run_tile_verify(C.tile_hits(tp, prints, cfg,
                                             n_images=n_ids), cfg)
            return (rescue_gate(tv, signatures, cfg, ids=("id_q", "id_r"))
                    .where(F.col("score") >= cfg.tile_min_score)
                    .select("id_a", "id_b").distinct())

        def branch(name: str, table: str, compute):
            return ex.submit(timed, name, lambda: store.read_or_compute(
                spark, table, compute))

        fut_v = branch("verify", "verified", compute_verified)
        fut_f = branch("pairs", "fused_pairs", compute_fused)
        fut_t = branch("tiles", "tile_pairs", compute_tile_pairs)
        verified = fut_v.result()
        fused_pairs = fut_f.result()
        tile_pairs = fut_t.result()
        lineage_rows = lineage_fut.result() if lineage_fut else []
        band_rows = [r for f in band_futs for r in f.result()]
        release()

        dup_pairs = (verified
                     .select(F.lit("landmark").alias("channel"),
                             "id_a", "id_b")
                     .unionByName(fused_pairs)
                     .unionByName(tile_pairs.select(
                         F.lit("tile").alias("channel"), "id_a", "id_b"))
                     .select("id_a", "id_b", "channel"))

        for row in band_rows:
            stats[f"bands_{row['channel']}"] = {k: row[k] for k in (
                "n_keys", "n_hot_keys", "dropped_cross_pairs_estimate")}
        lineage_rows.extend(
            (f"bands_{r['channel']}", -1, int(r["n_keys"]),
             int(r["n_hot_keys"]),
             int(r["dropped_cross_pairs_estimate"]), 0, store.run_id)
            for r in band_rows)

        # ---- one consolidated lineage append ∥ clustering -------------------
        def append_lineage() -> None:
            # a handful of driver-local rows, in one slice: an Arrow-built
            # LocalTableScan, so the append job is JVM-only. It runs no
            # shuffle, so connected_components' shuffle-partition cap
            # cannot reach it.
            label("lineage")
            store.append_lineage(local_frame(
                spark, lineage_rows, LINEAGE_SCHEMA).coalesce(1))

        lineage_append = (ex.submit(append_lineage) if lineage_rows
                          else None)

        try:
            clusters = timed("cluster", lambda: store.read_or_compute(
                spark, "clusters",
                lambda: connected_components(
                    # a pair found by two channels needs no distinct: the
                    # loop is duplicate-insensitive
                    dup_pairs.select("id_a", "id_b"),
                    # the persisted id map: one row per input image, err
                    # rows included — no rescan of the raw images for ids
                    signatures.select("image_id"),
                    cfg.cc_max_iterations)))
        finally:
            # awaited even when clustering raises: an append error then
            # propagates chained to the clustering error, not dropped
            if lineage_append is not None:
                lineage_append.result()
    finally:
        ex.shutdown(wait=True)
        release()
        spark.conf.set(arrow_key, arrow_rows)

    stats["elapsed_s"] = time.monotonic() - t_start
    return PipelineResult(clusters=clusters, dup_pairs=dup_pairs,
                          stats=stats)
