"""Candidate generation: every channel is JVM-side DataFrame ops.

Channels (SURVEY.md §7 step 5 / north_star):
  landmark  — ±query_range near-hash self-join on the prints table
              (reference Q1, PanakoStorageKV.java:293-379, re-expressed as
              explode(sequence(h-r, h+r)) + equi-join so Catalyst runs a
              plain shuffled hash join instead of a band join), minus
              the stop-word hashes, on the int64 `iid` (landmark_hits)
  tile     — exact-hash probe of the crop-rescue tile prints against
              the stored standard-window prints (tile_hits); both
              channels and the streaming monitor share one probe join
              (_probe_hits); both read their stop-word sets from one
              per-hash image count (hot_hash_counts) that the pipeline
              computes once per run
  signature — minhash / simhash / phash band keys and caption_exact /
              caption_substring keys from ONE keyed pass over
              signatures, fused into ONE channel-tagged salted
              self-join that runs the bit channels' Hamming gate as its
              post-filter (fused_candidate_pairs)

Every pair side meets the per-image relation exactly once
(resolve_pairs): that one join applies the caller's gate (the fused
MinHash/substring gates, the pipeline's rescue gate) and resolves the
int64 ids to canonical string ids.

Skew (north_rule "hot-band splitting"): `pairs_from_keys` counts members
per key (a partially aggregated groupBy joined back); keys above
`band_pair_cap` are split into ceil(n/cap) salted sub-keys — pairing
happens within sub-keys only, the dropped cross-salt pair count is
reported (never silently) via the returned stats row.
At 10^12 rows the hot keys are blank images / boilerplate captions; capping
them is the difference between a job that finishes and one that doesn't.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from panako_spark.config import PanakoConfig


def pairs_from_keys_multi(keyed: DataFrame, cap: int,
                          group_col: str = "channel",
                          key_col: str = "key", id_col: str = "image_id",
                          keep=None) -> tuple[DataFrame, DataFrame]:
    """(channel, key, id, *vals) -> distinct pairs (channel, id_a < id_b)
    + stats.

    The fused pairing primitive: every LSH-style channel shares ONE
    groupBy -> salted self-join dataflow (channel rides in the join
    key), so five channels cost one set of shuffle stages instead of
    five. Each key's member count is a partially aggregated groupBy
    joined back to the keyed rows, so a hot key never lands whole in one
    task before it is salted: the count shuffles one row per key and
    partition, and the join back is a broadcast or an AQE skew-split
    join. (A count(*) window over the (channel, key) exchange would run
    two stages fewer, but it ships every member of a hot key to one
    task — the skew the salting exists to remove.) Nothing is cached.
    Hot keys (> cap members) are salted into ceil(n/cap) sub-buckets
    by xxhash64(id); pairs form within sub-buckets only. Stats has one row
    per channel: (channel, n_keys, n_hot_keys,
    dropped_cross_pairs_estimate) — dropped pairs are reported, never
    silent (north_rule hot-band splitting). It is a lazy aggregate over
    the same uncached count: a caller collects it when, and if, it
    wants the numbers, alongside the pairs rather than before them.

    Every other keyed column v rides to both sides as v_a / v_b, and
    `keep` (a predicate over them, like _probe_hits' `keep`) is ANDed
    with id_a < id_b before the distinct: a gate that needs only
    per-row values runs inside the self-join, with no verify join.
    """
    n = F.col("_n")
    counts = keyed.groupBy(group_col, key_col).agg(F.count("*").alias("_n"))
    salted = keyed.join(counts, [group_col, key_col]).withColumn(
        "_salt",
        F.when(n > cap, F.pmod(F.xxhash64(F.col(id_col)),
                               F.ceil(n / cap).cast("int")))
        .otherwise(F.lit(0)))
    vals = [c for c in keyed.columns if c not in (group_col, key_col, id_col)]

    def side(s: str) -> DataFrame:
        return salted.select(group_col, F.col(key_col).alias("_k"), "_salt",
                             F.col(id_col).alias(f"id_{s}"),
                             *[F.col(v).alias(f"{v}_{s}") for v in vals])

    cond = F.col("id_a") < F.col("id_b")
    pairs = (side("a").join(side("b"), [group_col, "_k", "_salt"])
             .where(cond if keep is None else cond & keep)
             .select(group_col, "id_a", "id_b").distinct())
    per_sub = F.floor(n / F.ceil(n / cap))
    stats = counts.groupBy(group_col).agg(
        F.count("*").alias("n_keys"),
        F.count(F.when(n > cap, 1)).alias("n_hot_keys"),
        F.coalesce(F.sum(F.when(
            n > cap,
            (n * (n - 1) / 2
             - F.ceil(n / cap) * (per_sub * (per_sub - 1) / 2))
            .cast("long"))), F.lit(0)).alias("dropped_cross_pairs_estimate"))
    return pairs, stats


def pairs_from_keys(keyed: DataFrame, cap: int,
                    key_col: str = "key", id_col: str = "image_id"
                    ) -> tuple[DataFrame, DataFrame]:
    """Single-channel wrapper over pairs_from_keys_multi (the documents
    and PCH dedup operators use it); stats row drops the channel
    column."""
    tagged = keyed.select(F.lit("only").alias("_ch"), key_col, id_col)
    pairs, stats = pairs_from_keys_multi(tagged, cap, group_col="_ch",
                                         key_col=key_col, id_col=id_col)
    return (pairs.select("id_a", "id_b"),
            stats.select("n_keys", "n_hot_keys",
                         "dropped_cross_pairs_estimate"))


# --------------------------------------------------------------- landmark ---
def hot_hash_counts(prints: DataFrame, cfg: PanakoConfig) -> DataFrame | None:
    """(hash, _imgs) for every hash found in more than
    cfg.hash_max_images distinct images, or None when the cap is
    disabled (<= 0).

    effective_hash_max_images(n) = max(hash_max_images, frac * n) is
    never below the fixed cap, so this ONE relation holds both channels'
    stop-word sets: the tile channel's is all of it, the landmark
    channel's is its rows with _imgs above the effective cap. Both build
    their set from this frame (hot_hash_set), so a caller that persists
    `hot_hash_counts(prints, cfg)` once has Spark's cache manager
    substitute it into both plans: the per-hash distinct-image count
    over every print runs once per run instead of once per channel.

    The count is over image_id, not iid: an incrementally grown store
    can give one image_id two iids, and the golden matcher counts
    distinct image ids."""
    if cfg.hash_max_images <= 0:
        return None
    return (prints.groupBy("hash")
            .agg(F.countDistinct("image_id").alias("_imgs"))
            .where(F.col("_imgs") > cfg.hash_max_images))


def hot_hash_set(prints: DataFrame, cfg: PanakoConfig,
                 n_images: int | None = None,
                 cap: int | None = None) -> DataFrame | None:
    """Stop-word hashes (> cap distinct images; cap defaults to the
    corpus-aware effective_hash_max_images), or None when disabled.
    Shared by the landmark self-join and the tile-probe channel — the
    golden matcher applies the identical rule at the identical cap.
    The set is a filter over hot_hash_counts, so `cap` may not be below
    cfg.hash_max_images (neither channel's cap is)."""
    if cap is None:
        cap = cfg.effective_hash_max_images(n_images)
    if cap <= 0:
        return None
    if cap < cfg.hash_max_images:
        raise ValueError(f"stop-word cap {cap} is below hash_max_images="
                         f"{cfg.hash_max_images}")
    return (hot_hash_counts(prints, cfg)
            .where(F.col("_imgs") > cap).select("hash"))


# ---- packed hit coordinates -------------------------------------------
# The hit relation is the pipeline's widest shuffle (the landmark and
# tile probe-join outputs): the four spectral coordinates of a hit ride
# ONE non-negative int64 instead of four int columns —
#     tf = (t_q * 1024 + f_q) * 2^32 + (t_r * 1024 + f_r)
# which halves the UnsafeRow bytes the pair-key exchange sorts and the
# Arrow bytes the verify kernel receives (stages/verify._unpack_tf is
# the inverse). Bounds making each half fit 31 bits: f < 1024 (freq
# bin index; PanakoConfig refuses freq_bins > 1024, default 128) and
# t < 2^21 (frame index; kernels/spectral.frame_profiles raises on
# wider images — 2^21 frames is a ~4-gigapixel-wide image).
_HALF = 1 << 32
_PRINT_COLS = ("hash", "t1", "f1")


def _pack_half(t_col: str, f_col: str):
    return F.col(t_col).cast("long") * 1024 + F.col(f_col)


def _probe_hits(probe: DataFrame, store: DataFrame, r: int,
                keep) -> DataFrame:
    """The probe join every query path shares (landmark_hits, tile_hits,
    streaming/monitor.probe_batch): probe(q_id, *run_keys, hash, t1, f1)
    against store(r_id, hash, t1, f1) on |h_q - h_r| <= r, rows kept
    where `keep` holds -> (q_id, r_id, *run_keys, tf).

    The ±r band is an explode(sequence(h-r, h+r)) of the probe hash, so
    Catalyst runs a plain shuffled hash join instead of a band join;
    r == 0 is the plain equi-join with no explode fan-out."""
    q_id, *keys = [c for c in probe.columns if c not in _PRINT_COLS]
    (r_id,) = [c for c in store.columns if c not in _PRINT_COLS]
    h = F.col("hash")
    q = probe.select(
        q_id, *keys, _pack_half("t1", "f1").alias("_q32"),
        (F.explode(F.sequence(h - r, h + r)) if r else h)
        .alias("probe_hash"))
    ref = store.select(r_id, h.alias("probe_hash"),
                       _pack_half("t1", "f1").alias("_r32"))
    return (q.join(ref, "probe_hash")
            .where(keep)
            .select(q_id, r_id, *keys,
                    (F.col("_q32") * F.lit(_HALF) + F.col("_r32"))
                    .alias("tf")))


def landmark_hits(prints: DataFrame, cfg: PanakoConfig,
                  numeric_ids: bool = False,
                  n_images: int | None = None) -> DataFrame:
    """prints -> raw hit list per candidate pair (canonical id_a < id_b).

    Stop-word hashes, found in more than effective_hash_max_images(
    n_images) distinct images, are dropped first (hot_hash_set). The
    golden matcher applies the identical rule (same config + corpus
    size) so parity is preserved; at web scale these hashes are pure
    noise amplifiers. The cap is corpus-size-aware (config.py) so large
    real-world content clusters don't silently lose the landmark
    channel.

    The ±range probe relation |h_a - h_b| <= query_range is symmetric, so
    probing from the smaller id only (id_a < id_b) enumerates exactly the
    union of both query directions of the reference's dedup driver
    (Deduplication.java:98-108) — verify runs both orientations downstream.

    The hit rows carry the int64 `iid` minted at ingest
    (extract.run_extract — unique by construction at any cardinality,
    id map persisted in the checkpoints), not the string image_id: the
    hit relation is by far the widest shuffle of the pipeline, and
    8-byte sort/join keys beat variable-length strings on every axis
    (shuffle bytes, sort comparisons, Arrow transfer to the verify
    kernel). `numeric_ids` changes nothing: it stays because
    perfbench's traced replay passes it by name.
    """
    hot = hot_hash_set(prints, cfg, n_images)
    p = prints if hot is None else prints.join(hot, "hash", "left_anti")
    return _probe_hits(p.select(F.col("iid").alias("id_a"), *_PRINT_COLS),
                       p.select(F.col("iid").alias("id_b"), *_PRINT_COLS),
                       cfg.query_range, F.col("id_a") < F.col("id_b"))


def tile_hits(tile_prints: DataFrame, prints: DataFrame, cfg: PanakoConfig,
              n_images: int | None = None) -> DataFrame:
    """Crop-rescue channel: tile probe prints (query side) exact-hash
    against the stored prints — DIRECTED hits (id_q, id_r, tile_id, tf)
    per (query image, stored image, tile), the input of
    verify.run_tile_verify.

    Mirrors GoldenMatcher.tile_rescue_pairs exactly: a query print whose
    RAW hash is a stop-word is skipped entirely (anti-join on the raw
    hash), hot store hashes never match (store-side anti-join), and self
    pairs drop via id inequality (Q2 with avoid={self}). Each tile is
    one directed query, verified in the query -> store orientation only
    — the reference analog is one monitor window's query
    (PanakoStrategy.java:498-510), and the streaming monitor builds its
    hits with the same probe join (_probe_hits).

    The stop-word cap here is the FIXED floor (cfg.hash_max_images), NOT
    the corpus-scaled effective cap the landmark channel uses: the
    corpus-scaled cap exists so large real-world content clusters keep
    their landmark channel, but the tile channel's only job is rescuing
    crop pairs, whose dup groups are tiny. Scaled, the cap lets bucket
    depth grow with n and the ~|tile grid|x probe volume turns the join
    superlinear (measured: at 69.7k images the scaled cap of 69 made
    the tile join dominate the whole pipeline); fixed, tile-channel
    volume stays a bounded constant factor on the linear landmark term.
    The golden sibling applies the identical fixed cap. So `n_images`
    does not change the result; the parameter stays because perfbench's
    traced replay passes it by name.

    The store side is scoped to STANDARD-window prints (is_std): dense
    rescue extras double this channel's (dominant) join cost while the
    642-image split-index sweep measured them adding zero cluster-level
    recall through tiles — their recoveries are landmark-channel
    dense∩dense intersections (prints_with_rescue docstring; golden
    sibling: tile_rescue_pairs' std_index_only). The hot-hash set is
    computed on the FULL print relation first, like the golden
    matcher's _hot_hashes, so stop-word parity is unaffected."""
    hot = hot_hash_set(prints, cfg, n_images=n_images,
                       cap=cfg.hash_max_images)
    std = prints.where(F.col("is_std"))
    store = std if hot is None else std.join(hot, "hash", "left_anti")
    q = (tile_prints if hot is None
         else tile_prints.join(hot, "hash", "left_anti"))
    # Tile probes match EXACT hashes (range 0), unlike the landmark
    # channel's ±query_range: an aligned tile is computed from the same
    # pixel content as the stored crop, so its hashes agree exactly —
    # measured on the 642-image corpus, range 0 keeps all 4 rescued
    # crop pairs (scores 15/17/26/65) with 0 false positives at any
    # gate >= 10, while range 2 costs 5x the probe join volume for
    # identical recall.
    return _probe_hits(
        q.select(F.col("iid").alias("id_q"), "tile_id", *_PRINT_COLS),
        store.select(F.col("iid").alias("id_r"), *_PRINT_COLS),
        0, F.col("id_q") != F.col("id_r"))


def resolve_pairs(pairs: DataFrame, per_image: DataFrame, keep=None,
                  ids: tuple[str, str] = ("id_a", "id_b")) -> DataFrame:
    """The one place int64-id pairs meet the per-image relation: ONE
    join per pair side that gates the pair and resolves its string ids.

    `per_image` carries (iid, image_id, *cols), one row per image —
    the signatures table, whose minted `iid` column IS the id map, or a
    projection of it. Each col c lands as c_a on the `ids[0]` side and
    c_b on the `ids[1]` side; rows where `keep` (over those columns and
    the pairs' own) fails drop. Returns canonical string ids
    (id_a = least, id_b = greatest), then the pairs' other columns.
    Columns neither `keep` nor the output reads are pruned from the
    joins by Catalyst. The id dimension is tiny relative to the hit
    relation, so Catalyst broadcasts it at bench scale; at cluster scale
    it is a shuffle join on the long key."""
    cols = [c for c in per_image.columns if c not in ("iid", "image_id")]

    def side(id_col: str, s: str) -> DataFrame:
        return per_image.select(F.col("iid").alias(id_col),
                                F.col("image_id").alias(f"_s{s}"),
                                *[F.col(c).alias(f"{c}_{s}") for c in cols])

    out = (pairs.join(side(ids[0], "a"), ids[0])
           .join(side(ids[1], "b"), ids[1]))
    if keep is not None:
        out = out.where(keep)
    rest = [c for c in pairs.columns if c not in ids]
    return out.select(
        F.least("_sa", "_sb").alias("id_a"),
        F.greatest("_sa", "_sb").alias("id_b"), *rest)


def resolve_numeric_ids(verified: DataFrame, id_source: DataFrame) -> DataFrame:
    """Map int64 pair ids back to string image_ids (canonical order):
    resolve_pairs with no gate."""
    return resolve_pairs(verified, id_source)


# 1-byte channel codes for the fused flow's shuffle rows; decoded back
# to names on the verified output (fused_candidate_pairs)
_CH_MINHASH, _CH_SIMHASH, _CH_PHASH = 1, 2, 3
_CH_CAPTION_EXACT, _CH_CAPTION_SUBSTRING = 4, 5
_CH_NAMES = {_CH_MINHASH: "minhash", _CH_SIMHASH: "simhash",
             _CH_PHASH: "phash", _CH_CAPTION_EXACT: "caption_exact",
             _CH_CAPTION_SUBSTRING: "caption_substring"}


def _channel_name(code):
    expr = F.lit(None).cast("string")
    for c, name in _CH_NAMES.items():
        expr = F.when(code == c, F.lit(name)).otherwise(expr)
    return expr


def _phash_band_keys(cfg: PanakoConfig):
    bpb = cfg.phash_bits_per_band
    mask = (1 << bpb) - 1
    return F.array(*[
        (F.lit(b << (bpb + 1))
         + F.shiftrightunsigned(F.col("phash"), b * bpb)
         .bitwiseAND(F.lit(mask))).alias(f"k{b}")
        for b in range(cfg.phash_bands)])


def _tagged(code: int, keys, v=None):
    """keys array -> array<struct(channel, key, v)> for the keyed pass;
    a null array yields no rows, like explode."""
    v = F.lit(None).cast("long") if v is None else v
    return F.coalesce(
        F.transform(keys, lambda k: F.struct(
            F.lit(code).cast("tinyint").alias("channel"),
            k.cast("long").alias("key"), v.alias("v"))),
        F.array().cast("array<struct<channel:tinyint,key:bigint,v:bigint>>"))


def fused_candidate_pairs(signatures: DataFrame, images: DataFrame,
                          cfg: PanakoConfig, caches: list | None = None
                          ) -> tuple[DataFrame, DataFrame]:
    """All five signature channels in ONE pairing dataflow.

    A separate explode/groupBy/join DAG per channel would be correct,
    but five channels x ~6 shuffle stages of tiny data is pure
    scheduling overhead at bench scale and five synchronization
    barriers at cluster scale. Here ONE keyed pass over signatures (one
    generator over the five channel-tagged key arrays) feeds one salted
    self-join, which also runs the bit channels' Hamming gate on the
    16-byte `v` (simhash / phash) its rows carry. The surviving pairs
    then meet the per-image relation once per side (resolve_pairs):
    that join runs the MinHash Jaccard and substring containment gates
    in a single codegen projection and resolves the string ids.

    Returns (pairs(channel, id_a, id_b), stats(channel, n_keys,
    n_hot_keys, dropped_cross_pairs_estimate)); both are lazy and
    nothing is cached, so `caches` (kept because perfbench's traced
    replay passes it) receives nothing.

    Shuffle-width discipline: the keyed relation (every band of every
    channel) and the salted self-join are the fused flow's volume, so
    rows carry the 8-byte dictionary `iid` instead of the string
    image_id and a 1-byte channel CODE instead of the channel name; the
    wide MinHash arrays and the caption strings only ever join the
    (tiny) post-self-join pair set. Names and string ids are resolved on
    that verified output and on the 5-row stats frame."""
    keyed = signatures.select(
        F.col("iid").alias("image_id"),
        F.inline(F.concat(
            _tagged(_CH_MINHASH, F.col("mh_bands")),
            _tagged(_CH_SIMHASH, F.col("sh_bands"), F.col("simhash")),
            _tagged(_CH_PHASH, _phash_band_keys(cfg), F.col("phash")),
            _tagged(_CH_CAPTION_EXACT, F.array("caption_hash")),
            _tagged(_CH_CAPTION_SUBSTRING, F.col("substr_fps")))))
    # The bit channels dominate raw candidate volume (8-bit band keys
    # collide at rate n²/2^bits regardless of data), so their
    # xor+popcount gate runs inside the self-join: no raw bit candidate
    # reaches the per-image join that drags the 128-perm MinHash arrays.
    ch = F.col("channel")
    ham = F.bit_count(F.col("v_a").bitwiseXOR(F.col("v_b")))
    bits_ok = (F.when(ch == _CH_SIMHASH, ham <= cfg.simhash_hamming_threshold)
               .when(ch == _CH_PHASH, ham <= cfg.phash_hamming_threshold)
               .otherwise(True))
    cand, stats = pairs_from_keys_multi(keyed, cfg.band_pair_cap,
                                        keep=bits_ok)

    # captions live on the input table; the per-image relation takes
    # them through the persisted iid map (a left join: an image without
    # a caption row fails only the substring gate, as a null)
    per_image = (signatures.select("iid", "image_id", "minhash")
                 .join(images.select("image_id", "caption"), "image_id",
                       "left"))
    jacc = (F.aggregate(F.zip_with("minhash_a", "minhash_b",
                                   lambda x, y: (x == y).cast("int")),
                        F.lit(0), lambda acc, v: acc + v)
            / F.lit(cfg.minhash_perms))
    thresh = cfg.substring_min_len + 8 - 1  # winnow window w=8 (suffix.py)
    ca, cb = F.col("caption_a"), F.col("caption_b")
    substr_ok = (((F.length(ca) >= thresh) & F.contains(cb, ca))
                 | ((F.length(cb) >= thresh) & F.contains(ca, cb)))
    verified_ok = (F.when(ch == _CH_MINHASH,
                          jacc >= cfg.minhash_jaccard_threshold)
                   .when(ch == _CH_CAPTION_SUBSTRING, substr_ok)
                   .otherwise(True))
    out = resolve_pairs(cand, per_image, verified_ok).select(
        _channel_name(ch).alias("channel"), "id_a", "id_b")
    stats = stats.withColumn("channel", _channel_name(F.col("channel")))
    return out, stats
