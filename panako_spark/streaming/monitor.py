"""Streaming monitor: the reference's `monitor`/`Monitor` mode
(Monitor.java:61-110, PanakoStrategy.java:498-510 — continuous querying of
incoming fragments against a stored index) re-expressed as Structured
Streaming.

Reference semantics: each incoming window is an INDEPENDENT query against
the store — no watermarks, no cross-window state (SURVEY.md §2.5). That
maps exactly to `readStream` + `foreachBatch`: every micro-batch runs the
batch extract -> near-hash probe -> directed verify flow against the
stored prints, appending matches to a sink. The probe join and the
verify kernel are the batch pipeline's own (probe_batch). The monitor
applies no stop-word cap, so its matches equal GoldenMatcher.query_prints
at hash_max_images=0. Streaming checkpointing gives exactly-once per
micro-batch, the streaming analog of the batch pipeline's stage manifests.

Every monitor takes the CheckpointStore, not a path: it refuses a store
whose prints were extracted under another config
(CheckpointStore.check_config_fp — the same check pipeline resume and
incremental store run) before any stream starts, then reads the prints
through the store, so an Iceberg-backed store works as well as parquet.
The three sources (parquet file drop, rate ticks, socket lines) differ
only in how a micro-batch becomes frames; the sink is one helper.

At cluster scale the stored prints side stays partitioned by hash on disk;
each micro-batch's probe side is small, so AQE broadcasts it — the stored
table is never re-shuffled per batch.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.types as T

from panako_spark.config import PanakoConfig
from panako_spark.io.checkpoint import CheckpointStore
from panako_spark.stages.candidates import _probe_hits
from panako_spark.stages.extract import run_extract, split_prints
from panako_spark.stages.verify import run_directed_verify

IMAGE_SCHEMA = T.StructType([
    T.StructField("image_id", T.StringType()),
    T.StructField("bytes", T.BinaryType()),
    T.StructField("w", T.IntegerType()),
    T.StructField("h", T.IntegerType()),
    T.StructField("fmt", T.StringType()),
    T.StructField("caption", T.StringType()),
    T.StructField("phash", T.LongType()),
])


def probe_batch(batch_images: DataFrame, stored_prints: DataFrame,
                cfg: PanakoConfig) -> DataFrame:
    """One monitor query: extract the batch, ±query_range-probe the
    store, verify. Returns matches (query_id, ref_id, score, factors...).

    Each incoming image is one directed query (query -> store only,
    like the reference's monitor windows and GoldenMatcher.query_prints
    with avoid={self}): hits come from the probe join the landmark and
    tile channels share (candidates._probe_hits, with the whole image as
    tile 0, so one image is one verify run), and are verified by the
    tile channel's directed kernel (verify.run_directed_verify) at the
    full gates of `cfg`. The id inequality is the avoid set (Q2); the
    factors describe the query -> store alignment.
    """
    q_prints = split_prints(run_extract(batch_images, cfg))
    hits = _probe_hits(
        q_prints.select(F.col("image_id").alias("id_q"),
                        F.lit(0).alias("tile_id"), "hash", "t1", "f1"),
        stored_prints.select(F.col("image_id").alias("id_r"),
                             "hash", "t1", "f1"),
        cfg.query_range, F.col("id_q") != F.col("id_r"))
    return run_directed_verify(hits, cfg).select(
        F.col("id_q").alias("query_id"), F.col("id_r").alias("ref_id"),
        "score", "time_factor", "freq_factor", "coverage")


def _start_sink(stream: DataFrame, store: CheckpointStore, output_dir: str,
                checkpoint_dir: str, cfg: PanakoConfig | None,
                to_frames=None, available_now: bool = False):
    """What every monitor shares: refuse a store extracted under another
    config, read its prints once, and on every micro-batch probe the
    frames (`to_frames(batch)`, or the batch itself) against them,
    appending matches with their batch_id to output_dir. Returns the
    started StreamingQuery."""
    cfg = cfg or PanakoConfig()
    store.check_config_fp("prints", cfg.extraction_fingerprint())
    stored = store.read(stream.sparkSession, "prints")

    def handle(batch: DataFrame, batch_id: int) -> None:
        frames = to_frames(batch) if to_frames else batch
        (probe_batch(frames, stored, cfg)
         .withColumn("batch_id", F.lit(batch_id))
         .write.mode("append").parquet(output_dir))

    writer = (stream.writeStream.foreachBatch(handle)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def synth_frames(ticks: DataFrame, cycle: int, seed: int) -> DataFrame:
    """Deterministic frame synthesis from rate-source ticks.

    Each tick `value` v becomes the base image of index v % cycle
    (per-index child rng, so content is independent of batching), with a
    per-tick unique id `live<v>_<base_id>` — the same frame arriving
    later in the stream is a new observation of the same content, which
    is exactly what a capture device produces.
    """
    def gen(it):
        from panako_spark.data.synth import (
            rows_for_base_index, rows_to_pandas,
        )
        for pdf in it:
            rows, ids = [], []
            for v in pdf["value"]:
                base = rows_for_base_index(int(v) % cycle, 0, seed)[0]
                rows.append(base)
                ids.append(f"live{int(v):08d}_{base.image_id}")
            out = rows_to_pandas(rows)
            out["image_id"] = ids
            yield out

    return ticks.mapInPandas(gen, ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in IMAGE_SCHEMA))


def start_live_monitor(spark: SparkSession, store: CheckpointStore,
                       output_dir: str, checkpoint_dir: str,
                       cfg: PanakoConfig | None = None,
                       rows_per_batch: int = 4, cycle: int = 8,
                       seed: int = 1234):
    """S3 live-device monitor analog (Monitor.java:61-66 opens a
    microphone line and queries every buffered window; this sandbox has
    no capture device). The live analog is the `rate-micro-batch`
    source: an UNBOUNDED tick stream with no files and no end — the
    stream exists only while the query runs, exactly like a device —
    with each tick deterministically synthesized into a frame inside
    the micro-batch. Every micro-batch then runs the identical
    probe-and-verify flow as the file monitor; foreachBatch +
    checkpointing keep per-batch exactly-once output on restart.

    At cluster scale the synthesis step stands in for a receiver
    (Kafka/Kinesis frame topic): swap `synth_frames` for the decoder of
    the real feed and nothing downstream changes.

    Matches are against `store`'s prints, after the store's
    extraction-fingerprint check (ValueError before the stream starts
    when `cfg` differs from the config the store was extracted under).
    """
    ticks = (spark.readStream.format("rate-micro-batch")
             .option("rowsPerBatch", rows_per_batch)
             .option("numPartitions", 1)
             .option("startTimestamp", 0)
             .load()
             .select("value"))
    return _start_sink(ticks, store, output_dir, checkpoint_dir, cfg,
                       lambda batch: synth_frames(batch, cycle, seed))


def frame_to_wire(image_id: str, byts: bytes, w: int, h: int, fmt: str,
                  caption: str, phash: int) -> str:
    """One frame -> one newline-free wire line (the sender half of the
    socket monitor's contract): tab-separated
    `image_id  fmt  w  h  b64(bytes)  b64(utf8(caption))  phash`.
    Binary and free-text fields ride base64 so payload bytes can never
    collide with the framing (tab/newline); `image_id` and `fmt` ride
    raw, so one containing a tab, \\n or \\r raises ValueError instead
    of producing a frame parse_wire would silently drop."""
    import base64

    for name, val in (("image_id", image_id), ("fmt", fmt)):
        if any(c in val for c in "\t\n\r"):
            raise ValueError(f"{name} {val!r} contains a tab or line break, "
                             "which the wire framing cannot carry")
    return "\t".join([
        image_id, fmt, str(int(w)), str(int(h)),
        base64.b64encode(byts).decode("ascii"),
        base64.b64encode((caption or "").encode("utf-8")).decode("ascii"),
        str(int(phash)),
    ])


def parse_wire(lines: DataFrame) -> DataFrame:
    """Decode wire lines into IMAGE_SCHEMA rows — entirely JVM-side
    expressions (split/unbase64/cast inside whole-stage codegen; no
    Python touches the byte stream). Malformed lines (wrong field
    count, non-numeric ints) decode to null fields and are dropped
    here with a loud count left to the caller's lineage; payloads that
    parse but fail to DECODE as images are NOT dropped — they flow to
    the extract kernel's err-column quarantine like every batch row.
    A trailing \\r (CRLF-terminated peers) is stripped before the split,
    so the last field still parses."""
    p = F.split(F.regexp_replace("value", r"\r$", ""), F.lit("\t"))
    b64 = F.lit("base64")
    # try_* variants: malformed fields become NULL (and are dropped
    # below) even under spark.sql.ansi.enabled=true, where plain
    # cast/unbase64 would kill the stream on one bad line
    return (lines
            .where(F.size(p) == 7)
            .select(p.getItem(0).alias("image_id"),
                    F.try_to_binary(p.getItem(4), b64).alias("bytes"),
                    p.getItem(2).try_cast("int").alias("w"),
                    p.getItem(3).try_cast("int").alias("h"),
                    p.getItem(1).alias("fmt"),
                    F.try_to_binary(p.getItem(5), b64).cast("string")
                    .alias("caption"),
                    p.getItem(6).try_cast("long").alias("phash"))
            .where(F.col("image_id").isNotNull()
                   & F.col("bytes").isNotNull()
                   & F.col("w").isNotNull() & F.col("h").isNotNull()))


def start_socket_monitor(spark: SparkSession, host: str, port: int,
                         store: CheckpointStore, output_dir: str,
                         checkpoint_dir: str,
                         cfg: PanakoConfig | None = None):
    """S3 live-device monitor over a REAL network receiver: Structured
    Streaming's TCP socket source. A capture device (or edge encoder)
    pushes newline-delimited `frame_to_wire` lines; the JVM receiver
    ingests them unbounded — the stream exists only while the peer
    feeds it, exactly like the reference's microphone line
    (Monitor.java:61-66) — and every micro-batch runs the identical
    probe-and-verify flow as the file/rate monitors, against `store`'s
    prints after its extraction-fingerprint check.

    At cluster scale the same shape swaps the socket source for a
    Kafka/Kinesis topic of the same wire records (socket is
    single-receiver by design); parse_wire and everything downstream
    are source-agnostic."""
    lines = (spark.readStream.format("socket")
             .option("host", host).option("port", port).load())
    return _start_sink(parse_wire(lines), store, output_dir,
                       checkpoint_dir, cfg)


def start_monitor(spark: SparkSession, input_dir: str,
                  store: CheckpointStore, output_dir: str,
                  checkpoint_dir: str, cfg: PanakoConfig | None = None,
                  available_now: bool = True):
    """Watch input_dir for image parquet files; emit matches vs `store`'s
    prints to output_dir. Raises ValueError before the stream starts if
    the store was extracted under another config than `cfg`. Returns
    the StreamingQuery."""
    stream = (spark.readStream.schema(IMAGE_SCHEMA)
              .option("maxFilesPerTrigger", 4)
              .parquet(input_dir))
    return _start_sink(stream, store, output_dir, checkpoint_dir, cfg,
                       available_now=available_now)
