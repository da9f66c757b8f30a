"""Similarity search over embedding columns (array<float>).

Training-data-pipeline operators:
  * brute-force cosine top-k — the exact baseline, all math JVM-side via
    zip_with + aggregate in double precision (whole-stage codegen; no
    Python in the plan)
  * LSH-bucketed variant (random-hyperplane signs) — the scale path: at
    10^9 vectors the cross join is infeasible; bucket by sign-pattern
    bands and search within buckets (same banding machinery as SimHash)
  * cosine near-dup pairs — embedding-based near-duplicate channel

Deterministic hyperplanes come from splitmix64 streams (no RNG at plan
time), so results are reproducible across runs/executors.
"""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# (path+file-signature -> (n_rows, dim)) probe memo: the ANN operators
# need the corpus size (tier pick) and vector dimensionality
# (hyperplane/centroid literals), which would otherwise cost one
# count()/first() driver action PER CALL. Keyed on the parquet files'
# (name, size, mtime) — not path alone — so a fixture regenerated at
# the same path within one process invalidates the memo instead of
# silently steering tier selection with stale n/dim (ADVICE r4).
# Callers may also pass n/dim hints to skip the probe entirely.
_EMB_META: dict[tuple, tuple[int, int]] = {}


def _emb_sig(sf_dir: str) -> tuple:
    """Cheap content signature of embeddings.parquet at sf_dir (file or
    directory of part files)."""
    import os
    p = os.path.join(sf_dir, "embeddings.parquet")
    try:
        if os.path.isdir(p):
            stats = []
            for name in sorted(os.listdir(p)):
                if name.startswith(("_", ".")):
                    continue
                st = os.stat(os.path.join(p, name))
                stats.append((name, st.st_size, st.st_mtime_ns))
            return (p, tuple(stats))
        st = os.stat(p)
        return (p, st.st_size, st.st_mtime_ns)
    except OSError:
        return (p, None)


def _emb_meta(spark: SparkSession, sf_dir: str) -> tuple[int, int]:
    key = _emb_sig(sf_dir)
    meta = _EMB_META.get(key)
    if meta is None:
        emb = _emb(spark, sf_dir)
        meta = (emb.count(),
                len(emb.select("embedding").first()["embedding"]))
        _EMB_META[key] = meta
    return meta


def _unit(col: str):
    """array<float> -> unit-norm array<double> (norm computed once)."""
    norm = F.sqrt(F.aggregate(F.col(col), F.lit(0.0),
                              lambda acc, v: acc + v.cast("double") ** 2))
    return F.transform(F.col(col), lambda v: v.cast("double") / norm)


def _dot(a: str, b: str):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def cosine_topk_bruteforce(spark: SparkSession, sf_dir: str,
                           n_queries: int = 10, k: int = 5) -> DataFrame:
    """Exact top-k neighbors for the first n_queries vectors.

    The query side is broadcast (tiny); the corpus scan is one pass.
    """
    emb = _emb(spark, sf_dir)
    unit = emb.select("vec_id", _unit("embedding").alias("ue"))
    q = unit.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("ue").alias("qe"))
    c = unit.select(F.col("vec_id").alias("neighbor_id"),
                    F.col("ue").alias("ce"))
    scored = (F.broadcast(q).crossJoin(c)
              .where(F.col("query_id") != F.col("neighbor_id"))
              .withColumn("cos", _dot("qe", "ce")))
    from pyspark.sql import Window
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(),
                                               F.col("neighbor_id").asc())
    return (scored.withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= k)
            .select("query_id", "neighbor_id", "rnk"))


def cosine_near_dup_pairs(spark: SparkSession, sf_dir: str,
                          threshold: float = 0.4,
                          exact_limit: int = 1000,
                          broadcast_limit: int = 1_000_000,
                          n: int | None = None) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (dedup channel), tiered:

    * n <= exact_limit — expression-level cross join (zip_with/aggregate,
      sequential double summation): bit-exact vs the DuckDB oracle, the
      correctness tier.
    * n <= broadcast_limit — exact blocked GEMM: the corpus
      (unit-normalized float64, n x d) is broadcast once; each partition
      multiplies its row block against it with BLAS inside a mapInPandas
      kernel and emits only pairs >= threshold. Still EXACT (recall 1.0
      vs the naive path — verified pair-set-identical at sf0.01; only
      the cos doubles differ in last-ulp summation order), ~40x faster
      than the per-pair codegen cross join at 2k vectors. The bound is
      the driver collect + per-executor broadcast (n*d*8 bytes).
    * n > broadcast_limit — exact block-pair GEMM with NO driver
      materialization: vectors hash into ceil(n/broadcast_limit) blocks,
      every block pair (i <= j) cogroups, and each group runs the same
      chunked BLAS kernel on its two sides. Each vector shuffles ~B
      times (B = block count) and no task ever holds more than two
      blocks — the structurally-quadratic score work is unavoidable for
      an EXACT all-pairs operator, but memory stays bounded at any n.

    The tier taken is logged (python logging, logger
    'panako_spark.ann'). At LOW thresholds the result set itself is
    quadratic — on this corpus the planted dups sit at cos 0.4-0.6
    against a 0.38 background q99.9, and sign-LSH measured only 0.46
    recall at 23% candidate fraction (16 bits / 4 bands). The 10^9-row
    path is `lsh_bucketed_neighbors` (high thresholds) or `ivf_topk`
    (top-k semantics), both of which prune; this operator's contract is
    exactness.
    """
    import logging

    log = logging.getLogger("panako_spark.ann")
    emb = _emb(spark, sf_dir)
    if n is None:
        n = _emb_meta(spark, sf_dir)[0]
    if n <= exact_limit:
        log.info("cosine_near_dup_pairs tier=expression n=%d", n)
        unit = emb.select("vec_id", _unit("embedding").alias("ue"))
        a = unit.select(F.col("vec_id").alias("id_a"), F.col("ue").alias("ea"))
        b = unit.select(F.col("vec_id").alias("id_b"), F.col("ue").alias("eb"))
        return (a.crossJoin(b)
                .where(F.col("id_a") < F.col("id_b"))
                .withColumn("cos", _dot("ea", "eb"))
                .where(F.col("cos") >= threshold)
                .select("id_a", "id_b", "cos"))

    import pandas as pd

    rows = emb.select("vec_id", "embedding")
    id_type = dict(rows.dtypes)["vec_id"]
    if n > broadcast_limit:
        log.info("cosine_near_dup_pairs tier=block_cogroup n=%d", n)
        return _near_dup_block_cogroup(rows, n, threshold, broadcast_limit,
                                       id_type)
    log.info("cosine_near_dup_pairs tier=broadcast_gemm n=%d", n)
    # one collect builds the broadcast side (n x d doubles — 512 MB at
    # 10^6 x 64; the documented bound of this tier)
    pdf = rows.toPandas()
    ids = pdf["vec_id"].to_numpy()
    order = np.argsort(ids)
    ids = ids[order]
    U = np.stack(pdf["embedding"].to_numpy()[order]).astype(np.float64)
    U /= np.linalg.norm(U, axis=1, keepdims=True)
    bc = spark.sparkContext.broadcast((ids, U))

    def blocks(it):
        b_ids, b_u = bc.value
        for block in it:
            v_ids = block["vec_id"].to_numpy()
            V = np.stack(block["embedding"].to_numpy()).astype(np.float64)
            V /= np.linalg.norm(V, axis=1, keepdims=True)
            S = V @ b_u.T                      # BLAS, (m x n)
            # canonical id_a < id_b: each pair emitted by its smaller id
            hit = (S >= threshold) & (v_ids[:, None] < b_ids[None, :])
            ai, bj = np.nonzero(hit)
            yield pd.DataFrame({"id_a": v_ids[ai], "id_b": b_ids[bj],
                                "cos": S[ai, bj]})

    return rows.mapInPandas(
        blocks, f"id_a {id_type}, id_b {id_type}, cos double")


def _near_dup_block_cogroup(rows: DataFrame, n: int, threshold: float,
                            rows_per_block: int, id_type: str) -> DataFrame:
    """Tier 3 of cosine_near_dup_pairs: exact all-pairs >= threshold with
    bounded memory and no driver hop.

    Vectors hash into B = ceil(n / rows_per_block) blocks
    (pmod(xxhash64(vec_id), B) — dense and key-agnostic). For every
    block pair (i, j), i <= j, the a-side (block i) and b-side (block j)
    cogroup; the kernel unit-normalizes both sides and scans the cross
    product in BLAS chunks sized so the score matrix stays ~64 MB. Each
    unordered vector pair lands in exactly one (i, j) group — a pair
    (x in block i, y in block j, i < j) only ever cogroups under key
    (i, j); same-block pairs dedupe in-kernel on id_a < id_b. Shuffle
    volume is ~B copies of the corpus: the price of exactness without a
    broadcast bound.
    """
    import pandas as pd

    B = max(2, -(-n // rows_per_block))
    blocks = rows.withColumn("_blk",
                             F.pmod(F.xxhash64("vec_id"), F.lit(B))
                             .cast("int"))
    # each vector fans out to its block pairs by explode (a-side: all
    # j >= blk; b-side: all i <= blk) — no join, no shared-lineage
    # ambiguity, and the fan-out is exactly the B copies the algorithm
    # requires
    left = blocks.select(
        F.col("_blk").alias("_ba"),
        F.explode(F.sequence(F.col("_blk"), F.lit(B - 1))).alias("_bb"),
        "vec_id", "embedding")
    right = blocks.select(
        F.explode(F.sequence(F.lit(0), F.col("_blk"))).alias("_ba"),
        F.col("_blk").alias("_bb"),
        "vec_id", "embedding")

    def gemm(key, a: pd.DataFrame, b: pd.DataFrame) -> pd.DataFrame:
        ba, bb = key
        if not len(a) or not len(b):
            return pd.DataFrame({"id_a": [], "id_b": [], "cos": []})
        a_ids = a["vec_id"].to_numpy()
        A = np.stack(a["embedding"].to_numpy()).astype(np.float64)
        A /= np.linalg.norm(A, axis=1, keepdims=True)
        b_ids = b["vec_id"].to_numpy()
        Bm = np.stack(b["embedding"].to_numpy()).astype(np.float64)
        Bm /= np.linalg.norm(Bm, axis=1, keepdims=True)
        chunk = max(1, (64 << 20) // (8 * max(1, len(b_ids))))
        outs = []
        for s in range(0, len(a_ids), chunk):
            S = A[s:s + chunk] @ Bm.T
            ca = a_ids[s:s + chunk]
            hit = S >= threshold
            if ba == bb:
                hit &= ca[:, None] < b_ids[None, :]
            ai, bj = np.nonzero(hit)
            if len(ai):
                ia, ib = ca[ai], b_ids[bj]
                outs.append(pd.DataFrame({
                    "id_a": np.minimum(ia, ib),
                    "id_b": np.maximum(ia, ib),
                    "cos": S[ai, bj]}))
        if not outs:
            return pd.DataFrame({"id_a": [], "id_b": [], "cos": []})
        return pd.concat(outs, ignore_index=True)

    return (left.groupBy("_ba", "_bb")
            .cogroup(right.groupBy("_ba", "_bb"))
            .applyInPandas(gemm,
                           f"id_a {id_type}, id_b {id_type}, cos double"))


def _hyperplanes(dim: int, n_bits: int, seed: int = 0xA55) -> np.ndarray:
    """Deterministic pseudo-random hyperplanes via splitmix64 -> N(0,1)-ish
    (sum of 2 uniforms, centered) — reproducible without RNG state."""
    u64 = np.uint64
    idx = np.arange(n_bits * dim, dtype=np.uint64) + u64(seed)
    with np.errstate(over="ignore"):
        z = idx * u64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> u64(30))) * u64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> u64(27))) * u64(0x94D049BB133111EB)
        z = z ^ (z >> u64(31))
    u = z.astype(np.float64) / float(2 ** 64)
    return (u - 0.5).reshape(n_bits, dim)


IVF_SAMPLE = 2048   # deterministic training sample: vec_id < IVF_SAMPLE
IVF_ITERS = 20


def train_ivf_centroids(sample: np.ndarray, n_cells: int,
                        iters: int = IVF_ITERS) -> np.ndarray:
    """Spherical k-means (Lloyd) on a unit-normalized sample, fully
    deterministic: init = evenly-spaced sample rows (sorted by vec_id),
    assignment = argmax dot (first max on ties — matches the operator's
    array_position argmax), update = normalized mean, empty cells
    reseeded to the worst-assigned vector. Pure float64 NumPy, so the
    Spark operator and the DuckDB oracle builder derive the IDENTICAL
    literal centroids from the same parquet bytes."""
    m = sample.shape[0]
    S = sample.astype(np.float64)
    S = S / np.linalg.norm(S, axis=1, keepdims=True)
    idx = np.round(np.linspace(0, m - 1, n_cells)).astype(int)
    C = S[idx].copy()
    for _ in range(iters):
        scores = S @ C.T                       # (m, n_cells)
        assign = np.argmax(scores, axis=1)     # first max on ties
        newC = np.zeros_like(C)
        for c in range(n_cells):
            members = S[assign == c]
            if len(members):
                v = members.sum(axis=0)
                nrm = np.linalg.norm(v)
                newC[c] = v / nrm if nrm > 0 else C[c]
            else:
                # reseed dead cells to the vector worst served overall
                worst = int(np.argmin(scores[np.arange(m), assign]))
                newC[c] = S[worst]
        if np.array_equal(newC, C):
            break
        C = newC
    return C


_IVF_CENTROIDS: dict[tuple, np.ndarray] = {}


def _ivf_sample_spark(emb: DataFrame) -> np.ndarray:
    rows = (emb.where(F.col("vec_id") < IVF_SAMPLE)
            .select("vec_id", "embedding").collect())
    rows.sort(key=lambda r: r["vec_id"])
    return np.array([r["embedding"] for r in rows], dtype=np.float64)


def ivf_sample_duckdb(sf_dir: str) -> np.ndarray:
    """Oracle-side twin of _ivf_sample_spark: same rows, same order,
    same float32 -> float64 widening (exact), so `train_ivf_centroids`
    yields bit-identical centroids for the SQL literals."""
    import duckdb

    rows = duckdb.sql(
        f"SELECT embedding FROM '{sf_dir}/embeddings.parquet' "
        f"WHERE vec_id < {IVF_SAMPLE} ORDER BY vec_id").fetchall()
    return np.array([r[0] for r in rows], dtype=np.float64)


def ivf_topk(spark: SparkSession, sf_dir: str, n_cells: int = 16,
             n_probe: int = 8, n_queries: int = 10, k: int = 5,
             trained: bool = True, n_assign: int = 2,
             dim: int | None = None) -> DataFrame:
    """IVF (inverted-file) ANN: index every vector under its `n_assign`
    nearest of `n_cells` centroids (redundant assignment), then search
    only the query's `n_probe` nearest cells.

    Centroids are spherical-k-means-trained on a deterministic sample
    (vec_id < IVF_SAMPLE, one bounded collect — at 10^12 rows this is a
    metadata-pruned scan of one vec_id range, not a full pass) and
    emitted as plan literals; `trained=False` falls back to the
    data-independent splitmix layout. The sf0.01 embeddings are
    near-isotropic (same-label mean cos 0.02) so single-assignment IVF
    tops out at recall@5 0.78 trained / 0.82 untrained at n_probe 8/16
    — a data property, not a training gap; redundant assignment is the
    standard fix. Measured recall@5 vs brute force at n_assign=2:
    **0.98 at n_probe 8/16, 1.00 at 16/16** (0.86 at 4/16), with a 2x
    index and ~n_probe*n_assign/n_cells of the corpus scanned. On
    genuinely clustered corpora the same machinery prunes much harder.

    The scale path vs the brute-force cross join: the corpus is
    partitioned by cell, the query side explodes to n_probe cells, and
    the join is an equi-join on cell id — candidates shrink by the scan
    fraction. All JVM-side after the literal centroids.
    """
    emb = _emb(spark, sf_dir)
    if dim is None:
        dim = _emb_meta(spark, sf_dir)[1]
    if trained:
        ck = (_emb_sig(sf_dir), n_cells)  # content-keyed like _EMB_META
        if ck not in _IVF_CENTROIDS:
            _IVF_CENTROIDS[ck] = (
                train_ivf_centroids(_ivf_sample_spark(emb), n_cells))
        cents = _IVF_CENTROIDS[ck]
    else:
        cents = _hyperplanes(dim, n_cells, seed=0xCE77)  # unit-ish rows
    cent_lits = F.array(*[
        F.array(*[F.lit(float(v)) for v in row]) for row in cents])
    unit = emb.select("vec_id", _unit("embedding").alias("ue"))
    # scores per centroid -> top-n_assign cells (corpus), top-n_probe
    # (query), both via the same deterministic struct-sort tie-break
    scored = unit.withColumn(
        "_scores",
        F.transform(cent_lits, lambda c: F.aggregate(
            F.zip_with(F.col("ue"), c, lambda x, y: x * y),
            F.lit(0.0), lambda a, v: a + v)))
    corpus = (scored.withColumn(
        "_order", F.expr("array_sort(transform(_scores, (s, i) -> "
                         "struct(-s AS s, i AS i)))")
    ).select("vec_id", "ue",
             F.explode(F.expr(
                 f"transform(slice(_order, 1, {n_assign}), x -> x.i)"))
             .alias("cell")))
    probes = (scored.where(F.col("vec_id") < n_queries)
              .withColumn(
                  "_order", F.expr(
                      "array_sort(transform(_scores, (s, i) -> "
                      "struct(-s AS s, i AS i)))"))
              .select(F.col("vec_id").alias("query_id"),
                      F.col("ue").alias("qe"),
                      F.explode(F.expr(
                          f"transform(slice(_order, 1, {n_probe}), "
                          "x -> x.i)")).alias("cell")))
    cand = (probes.join(corpus, "cell")
            .where(F.col("query_id") != F.col("vec_id"))
            .select("query_id", "qe", F.col("vec_id").alias("neighbor_id"),
                    F.col("ue").alias("ce")).distinct()
            .withColumn("cos", _dot("qe", "ce")))
    from pyspark.sql import Window
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(),
                                               F.col("neighbor_id").asc())
    return (cand.withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= k)
            .select("query_id", "neighbor_id", "rnk"))


def lsh_bucketed_neighbors(spark: SparkSession, sf_dir: str,
                           n_bits: int = 16, bands: int = 4,
                           threshold: float = 0.4,
                           dim: int | None = None) -> DataFrame:
    """Scale path: random-hyperplane LSH buckets -> within-bucket exact
    cosine. Collision probability per bit = 1 - angle/pi; banding the
    sign pattern (bands x n_bits/bands) trades recall vs candidates
    exactly like the MinHash bands (candidates.pairs_from_keys pattern).
    """
    emb = _emb(spark, sf_dir)
    if dim is None:
        dim = _emb_meta(spark, sf_dir)[1]
    planes = _hyperplanes(dim, n_bits)
    # sign bits via a literal array of hyperplanes: JVM-side dot products
    plane_lits = F.array(*[
        F.array(*[F.lit(float(v)) for v in row]) for row in planes])
    bits_per_band = n_bits // bands
    sig = emb.withColumn(
        "_bits",
        F.transform(plane_lits, lambda p: F.aggregate(
            F.zip_with(F.col("embedding"), p,
                       lambda x, y: x.cast("double") * y),
            F.lit(0.0), lambda a, v: a + v) > 0))
    band_cols = [
        F.concat_ws("", F.lit(f"b{b}:"), *[
            F.col("_bits")[b * bits_per_band + i].cast("int").cast("string")
            for i in range(bits_per_band)]).alias(f"band{b}")
        for b in range(bands)]
    # pair on (key, vec_id) ONLY — the d-element embedding array must not
    # ride the band explode and the pair self-join (it would shuffle
    # bands x per vector plus once per candidate side); the (tiny)
    # distinct candidate set joins the unit vectors back afterwards —
    # the same shape as the MinHash channel of
    # candidates.fused_candidate_pairs
    keyed = (sig.select("vec_id", F.array(*band_cols).alias("_bk"))
             .select("vec_id", F.explode("_bk").alias("key")))
    a = keyed.select(F.col("key"), F.col("vec_id").alias("id_a"))
    b = keyed.select(F.col("key"), F.col("vec_id").alias("id_b"))
    cand = (a.join(b, "key")
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b").distinct())
    unit = emb.select("vec_id", _unit("embedding").alias("ue"))
    ea = unit.select(F.col("vec_id").alias("id_a"), F.col("ue").alias("ea"))
    eb = unit.select(F.col("vec_id").alias("id_b"), F.col("ue").alias("eb"))
    return (cand.join(ea, "id_a").join(eb, "id_b")
            .withColumn("cos", _dot("ea", "eb"))
            .where(F.col("cos") >= threshold)
            .select("id_a", "id_b", "cos"))
