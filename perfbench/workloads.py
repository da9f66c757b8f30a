"""The benchmark's workloads: what one operation is, its inputs and its checks.

Each workload builds its inputs from the seed with `panako_spark.data.synth`
(ground truth is encoded in the image ids) and hands the library only the
generated data. `setup` builds the inputs and `warm_up` runs once before
timing. `op` is one closed-loop operation; `check` scores its output
against the ids and returns the failures it found, and `check_run` does the
same for what only the whole run can show.
"""

from __future__ import annotations

import collections
import contextlib
import itertools
import os
import shutil

import numpy as np
import pandas as pd
import pyspark.sql.functions as F

from panako_spark.config import PanakoConfig
from panako_spark.data.synth import generate_corpus, rows_to_pandas
from panako_spark.io.checkpoint import CheckpointStore
from panako_spark.pipeline import run_pipeline
from panako_spark.stages import candidates as C
from panako_spark.stages.cluster import connected_components
from panako_spark.stages.extract import (
    make_extract_fn, run_extract, split_prints, split_signatures,
    split_tile_prints,
)
from panako_spark.stages.verify import run_tile_verify, run_verify
from tracing import SparkCounters

# pipeline job descriptions (run_pipeline labels its branch threads' jobs)
PIPELINE_LABELS = ("extract", "census", "verify", "pairs", "tiles", "cluster")


def noop(df) -> None:
    """Run a lazy DataFrame to completion without collecting it."""
    df.write.format("noop").mode("overwrite").save()


def du_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def warm_workers(images, cpus: int, cfg: PanakoConfig) -> None:
    """Start every Python worker and load the extract kernel before timing."""
    (run_extract(images.limit(cpus * 8).repartition(cpus), cfg)
     .select(F.sum("n_prints")).collect())


def clique_pairs(ids) -> set[tuple[str, str]]:
    """Ground-truth duplicate pairs: ids sharing the base before `_dup`."""
    groups = collections.defaultdict(list)
    for i in ids:
        groups[i.split("_dup")[0]].append(i)
    return {p for g in groups.values()
            for p in itertools.combinations(sorted(g), 2)}


class Workload:
    name = ""
    uses_spark = True
    min_recall = 0.0

    def __init__(self, seed: int, cpus: int, workdir: str) -> None:
        self.seed = seed
        self.cpus = cpus
        self.workdir = workdir
        self.cfg = PanakoConfig()
        self.tracer = None
        self.images_done = 0
        self.found = 0       # true results returned
        self.expected = 0    # true results that should have been returned
        self.returned = 0    # all results returned
        self.details: dict = {}

    def span(self, name: str, op: int | None = None):
        if self.tracer is None:
            return contextlib.nullcontext(None)
        return self.tracer.span(name, op)

    def fresh_dir(self, name: str) -> str:
        path = os.path.join(self.workdir, name)
        shutil.rmtree(path, ignore_errors=True)
        return path

    def recall(self) -> float:
        return self.found / max(1, self.expected)

    def precision(self) -> float:
        return self.found / max(1, self.returned)

    def check_run(self) -> list[str]:
        return []


class Dedup(Workload):
    """Archive dedup: run_pipeline over the whole corpus, counted clusters."""

    name = "dedup"
    n_base = 200
    dup_fraction = 0.3
    # ~120 clique pairs, one miss costs ~0.008: seeds 101-110 read
    # 0.925-1.0. This check catches broken output; smaller drops are the
    # recall metric's bound to catch.
    min_recall = 0.85

    def setup(self, spark) -> list[str]:
        rows, _ = generate_corpus(self.n_base, self.dup_fraction,
                                  seed=self.seed)
        self.ids = [r.image_id for r in rows]
        self.clique = clique_pairs(self.ids)
        self.images = spark.createDataFrame(rows_to_pandas(rows))
        self.spark = spark
        self.n_images = len(rows)
        return []

    def warm_up(self) -> list[str]:
        if self.tracer is None:  # a traced run's replay warms up instead
            warm_workers(self.images, self.cpus, self.cfg)
        return []

    def op(self, i: int):
        store = CheckpointStore(self.fresh_dir(f"dedup-{i}"))
        res = run_pipeline(self.spark, self.images, store, self.cfg)
        res.clusters.count()
        self.images_done += self.n_images
        return res

    def check(self, i: int, res) -> list[str]:
        pairs = {(r["id_a"], r["id_b"])
                 for r in res.dup_pairs.select("id_a", "id_b").collect()}
        labels = {r["image_id"]: r["cluster_id"]
                  for r in res.clusters.collect()}
        fails = []
        if set(labels) != set(self.ids):
            fails.append(f"op {i}: clusters cover {len(labels)} ids, "
                         f"input has {len(self.ids)}")
        hit = len(pairs & self.clique)
        closed = sum(1 for a, b in self.clique
                     if a in labels and labels[a] == labels.get(b))
        self.found += hit
        self.expected += len(self.clique)
        self.returned += len(pairs)
        recall = hit / max(1, len(self.clique))
        self.details.update(
            pair_recall=recall, clique_pairs=len(self.clique),
            cluster_recall=closed / max(1, len(self.clique)),
            false_pairs=len(pairs - self.clique), dup_pairs=len(pairs))
        if recall < self.min_recall:
            fails.append(f"op {i}: pair_recall {recall:.4f} < "
                         f"{self.min_recall}")
        return fails

    def traced_replay(self, op: int) -> None:
        """run_pipeline's stages one after another through the same public
        functions, one span per layer call. The rescue gate exists only as
        a closure inside run_pipeline and is not replayed."""
        spark, cfg, images = self.spark, self.cfg, self.images
        store = CheckpointStore(self.fresh_dir(f"replay-{op}"))
        fp = cfg.extraction_fingerprint()
        with self.span("replay", op) as root:
            with self.span("extract") as s:
                ext = run_extract(images, cfg).persist()
                m = ext.agg(
                    F.count("*").alias("n"),
                    F.count("err").alias("err"),
                    F.coalesce(F.sum(F.when(F.col("err").isNull(),
                                            F.col("n_prints"))),
                               F.lit(0)).alias("prints")).first()
                s.counts.update(images=m["n"], prints=m["prints"],
                                err_rows=m["err"])
            for table, df in (("prints", split_prints(ext)),
                              ("signatures", split_signatures(ext))):
                with self.span("checkpoint.write"):
                    store.write(df, table, config_fp=fp)
            with self.span("checkpoint.read") as s:
                prints = store.read(spark, "prints")
                signatures = store.read(spark, "signatures")
                noop(prints)
                noop(signatures)
                s.counts.update(
                    rows_written=m["prints"] + m["n"],
                    bytes_on_disk=du_bytes(store.path("prints"))
                    + du_bytes(store.path("signatures")))
            n_ids = m["n"]

            with self.span("candidates.landmark") as s:
                hits = C.landmark_hits(prints, cfg, numeric_ids=True,
                                       n_images=n_ids).persist()
                h = hits.agg(F.count("*").alias("rows"),
                             F.countDistinct("id_a", "id_b").alias("pairs")
                             ).first()
                s.counts.update(hit_rows=h["rows"], cand_pairs=h["pairs"])
            with self.span("verify") as s:
                v = run_verify(hits, cfg, numeric_ids=True)
                verified = C.resolve_numeric_ids(v, signatures).persist()
                n_v = verified.count()
                s.counts.update(hit_rows_in=h["rows"], pairs_out=n_v,
                                pairs_in=h["pairs"])
            hits.unpersist()

            caches: list = []
            with self.span("candidates.fused") as fused_span:
                fused, stats = C.fused_candidate_pairs(signatures, images,
                                                       cfg, caches=caches)
                fused = fused.persist()
                for r in fused.groupBy("channel").count().collect():
                    fused_span.counts[f"pairs.{r['channel']}"] = r["count"]
                st = stats.agg(F.sum("n_hot_keys").alias("hot"),
                               F.sum("dropped_cross_pairs_estimate")
                               .alias("drop")).first()
                fused_span.counts.update(hot_keys=st["hot"] or 0,
                                dropped_pairs_est=st["drop"] or 0)
            for c in caches:
                c.unpersist()

            with self.span("candidates.tile") as s:
                tp = split_tile_prints(ext)
                thits = C.tile_hits(tp, prints, cfg,
                                    n_images=n_ids).persist()
                th = thits.agg(F.count("*").alias("rows"),
                               F.countDistinct(F.least("id_q", "id_r"),
                                               F.greatest("id_q", "id_r"))
                               .alias("pairs")).first()
                s.counts.update(hit_rows=th["rows"], cand_pairs=th["pairs"])
            with self.span("verify") as s:
                tv = run_tile_verify(thits, cfg)
                tiles = C.resolve_numeric_ids(
                    tv.where(F.col("score") >= cfg.tile_min_score)
                    .select(F.least("id_q", "id_r").alias("id_a"),
                            F.greatest("id_q", "id_r").alias("id_b"))
                    .distinct(), signatures).persist()
                n_t = tiles.count()
                s.counts.update(hit_rows_in=th["rows"], pairs_out=n_t,
                                pairs_in=th["pairs"])
            thits.unpersist()
            ext.unpersist()

            with self.span("cluster") as s:
                edges = (verified.select("id_a", "id_b")
                         .unionByName(fused.select("id_a", "id_b"))
                         .unionByName(tiles).distinct()).persist()
                n_edges = edges.count()
                labels = connected_components(
                    edges, images.select("image_id"),
                    cfg.cc_max_iterations)
                n_clusters = labels.select("cluster_id").distinct().count()
                s.counts.update(edges_in=n_edges, clusters=n_clusters)
                found = {(r["id_a"], r["id_b"]) for r in edges.collect()}
            for df in (verified, fused, tiles, edges):
                df.unpersist()
        # useful candidates over all candidates the three channels produced
        tried = h["pairs"] + th["pairs"] + sum(
            v for k, v in fused_span.counts.items() if k.startswith("pairs."))
        root.counts["candidates.precision"] = (
            len(found & self.clique) / max(1, tried))

    def traced_op(self, op: int):
        """One run_pipeline inside a span; its jobs are grouped afterwards
        by the `panako:<stage>` description each branch thread sets."""
        counters = self.tracer.counters
        lo = counters.max_job_id()
        with self.span("pipeline", op) as s:
            res = self.op(op)
            counters.drain()
            hi = counters.max_job_id()
        by_label: dict[str, list[int]] = collections.defaultdict(list)
        for jid, desc in counters.descriptions(lo, hi).items():
            label = desc.removeprefix("panako:")
            by_label[label if label in PIPELINE_LABELS else "other"].append(
                jid)
        fresh = SparkCounters(self.spark)  # stage de-dup apart from spans
        s.counts["labels"] = {k: fresh.totals(v) for k, v in by_label.items()}
        return res


class Extract(Workload):
    """Ingest's compute without Spark: the extract kernel that
    store_incremental and run_pipeline ship to the Python workers
    (`make_extract_fn`), run in this process on one batch per operation.
    A batch holds whole cliques (a base and its dups), so each operation's
    prints can be scored on the pairs inside it."""

    name = "extract"
    uses_spark = False
    n_base = 160
    dup_fraction = 0.5
    batch = 16          # images per operation, rounded up to whole cliques
    # Seeds 101-110 and 301-310 read 0.77-0.88; this check catches broken
    # prints, smaller drops are the recall metric's bound to catch.
    min_recall = 0.5

    def setup(self, spark) -> list[str]:
        rows, _ = generate_corpus(self.n_base, self.dup_fraction,
                                  seed=self.seed)
        pdf = rows_to_pandas(rows)
        # the columns run_extract hands to the kernel, iid minted in order
        pdf.insert(1, "iid", np.arange(len(pdf), dtype=np.int64))
        base = [r.image_id.split("_dup")[0] for r in rows]
        cuts = [0] + [k for k in range(1, len(rows))
                      if base[k] != base[k - 1]] + [len(rows)]
        self.batches, lo = [], 0
        for k in cuts[1:]:
            if k - lo >= self.batch or k == len(rows):
                self.batches.append(pdf.iloc[lo:k].reset_index(drop=True))
                lo = k
        self.kernel = make_extract_fn(self.cfg)
        self.scores: dict[int, tuple[int, int, int]] = {}
        return []

    def _extract(self, b: int):
        return pd.concat(list(self.kernel(iter([self.batches[b]]))),
                         ignore_index=True)

    def warm_up(self) -> list[str]:
        self._extract(0)
        return []

    def op(self, i: int):
        b = i % len(self.batches)
        with self.span("extract", i) as s:
            out = self._extract(b)
            if s is not None:
                s.counts.update(images=len(out),
                                prints=int(out["n_prints"].sum()),
                                err_rows=int(out["err"].notna().sum()))
        self.images_done += len(out)
        return b, out

    def check(self, i: int, res) -> list[str]:
        """Every row extracted cleanly, and the prints of in-batch pairs
        scored: a pair is a candidate when it shares at least
        `min_unfiltered_hits` print hashes."""
        b, out = res
        fails = []
        if list(out["image_id"]) != list(self.batches[b]["image_id"]):
            fails.append(f"op {i}: output ids differ from batch {b}")
        bad = int((out["err"].notna() | (out["n_prints"] == 0)
                   | ~out["psnr_ok"]).sum())
        if bad:
            fails.append(f"op {i}: {bad} rows without clean prints")
        hashes = {r.image_id: set(r.hashes.tolist())
                  for r in out.itertuples()}
        clique = clique_pairs(hashes)
        cands = {p for p in itertools.combinations(sorted(hashes), 2)
                 if len(hashes[p[0]] & hashes[p[1]])
                 >= self.cfg.min_unfiltered_hits}
        # a batch scores once however often the window repeats it
        self.scores[b] = (len(cands & clique), len(clique), len(cands))
        self.found, self.expected, self.returned = (
            sum(v[k] for v in self.scores.values()) for k in range(3))
        self.details.update(batches_scored=len(self.scores),
                            batches=len(self.batches))
        return fails

    def check_run(self) -> list[str]:
        if self.recall() < self.min_recall:
            return [f"print recall {self.recall():.4f} < {self.min_recall}"]
        return []


WORKLOADS = {w.name: w for w in (Dedup, Extract)}
