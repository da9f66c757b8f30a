"""Benchmark driver (round contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[--cpus] plus the image+caption
dedup pipeline on a deterministic synthetic corpus, and prints ONE JSON
line:
  {"metric": ..., "value": total_sec, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ..., "cpus": ..., "host_cpus": ...,
   "images_per_sec": ..., "n_images": ...}

`python bench.py --help` lists every flag with its default.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

# one BLAS thread per Python worker: N workers already saturate N cores;
# nested numpy threading just oversubscribes and anti-scales
for _v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_v, "1")

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# every oracle-checked table query from __spark_entry__.queries()
# (VERDICT r3 #4: the headline bench used to omit four queries that
# CORRECTNESS covers, which made round-over-round comparison lumpy —
# now the two artifacts time the same set; the multimodal and pipeline
# driver-contract queries are benched separately via --mode)
HEADLINE = [
    "stats_scan", "min_hits_gate", "head_tail_sublist", "delta_t_mode",
    "topk_per_group", "near_hash_band_join", "avoid_filter",
    "resource_lookup_join", "coverage_histogram", "windowed_monitor",
    "pch_circular_match",
    "token_count", "token_count_bpe", "quality_score", "lang_id",
    "doc_fingerprint", "prefix_dup_groups", "exact_dup_groups",
    "ngram_jaccard_pairs",
    "minhash_dup_pairs_docs", "simhash_dup_pairs_docs",
    "embedding_topk", "embedding_near_dup", "embedding_lsh_neighbors",
    "embedding_ivf_topk",
]


def bench_corpus_path(n_base: int, spark=None) -> str:
    """Deterministic synthetic images parquet, cached across runs (same
    seed => same bytes), so runs at any parallelism level read identical
    input. Large corpora generate Spark-parallel (content is
    per-base-index seeded, so parallelism does not change the bytes)."""
    path = os.path.join(tempfile.gettempdir(),
                        f"panako_bench_corpus_v3_{n_base}")
    marker = os.path.join(path, "_SUCCESS_GEN")
    if not os.path.exists(marker):
        shutil.rmtree(path, ignore_errors=True)
        if spark is not None and n_base >= 2000:
            from panako_spark.data.synth import write_corpus_spark

            # MANY FILES, not one: a single parquet file yields only
            # size/128MB input splits and serializes the extract stage
            write_corpus_spark(spark, path, n_base, dup_fraction=0.3,
                               seed=1234, n_files=max(64, n_base // 500))
        else:
            from panako_spark.data.synth import (
                generate_corpus, rows_to_pandas,
            )
            import pyarrow as pa
            import pyarrow.parquet as pq

            rows, _ = generate_corpus(n_base, dup_fraction=0.3, seed=1234)
            pdf = rows_to_pandas(rows)
            os.makedirs(path, exist_ok=True)
            n_files = 64
            per = (len(pdf) + n_files - 1) // n_files
            for i in range(n_files):
                chunk = pdf.iloc[i * per:(i + 1) * per]
                if len(chunk):
                    pq.write_table(pa.Table.from_pandas(chunk),
                                   os.path.join(path, f"part-{i:03d}.parquet"),
                                   row_group_size=64)
        with open(marker, "w") as f:
            f.write("ok")
    return path


def _cpu_counters() -> tuple[int, int]:
    """(steal, busy) ticks from /proc/stat — busy excludes idle+iowait.
    This VM's hypervisor steal bursts 10-40% for minutes; a single-shot
    timing taken inside a burst reads as a phantom 2-10x regression
    (BENCH_r02's 91 s extract was really 10.6 s). Every timing below
    therefore carries its measured busy-relative steal so the number is
    interpretable, and table queries report medians of 3."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        vals = list(map(int, parts[1:]))
        steal = vals[7] if len(vals) > 7 else 0
        idle = vals[3] + (vals[4] if len(vals) > 4 else 0)
        return steal, sum(vals) - idle
    except OSError:  # non-Linux fallback
        return 0, 1


def _steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    return round(100.0 * (after[0] - before[0])
                 / max(1, after[1] - before[1]), 2)


def _spin_until(t_end: float) -> int:
    x = 0
    while time.monotonic() < t_end:
        for _ in range(20000):
            x += 1
    return x


def wait_for_quiet(threshold: float = 5.0, max_wait_s: float = 240.0,
                   probe_s: float = 4.0) -> float:
    """Bounded wait for a low-steal window, so that a recorded timing is
    not a steal-burst number (VERDICT r3 #4: a committed bench ran under
    a 12.9% burst). A short loaded spin probes busy-relative steal (an
    idle VM shows ~zero busy ticks); returns the last probe reading.
    bench.py calls it before its timings, tools/ab.py before each pair."""
    import multiprocessing as mp

    procs = min(8, os.cpu_count() or 8)
    t0 = time.monotonic()
    while True:
        s0 = _cpu_counters()
        t_end = time.monotonic() + probe_s
        with mp.Pool(procs) as p:
            p.map(_spin_until, [t_end] * procs)
        steal = _steal_pct(s0, _cpu_counters())
        if steal <= threshold or time.monotonic() - t0 > max_wait_s:
            return steal
        print(f"bench: host busy (probe steal {steal:.1f}%) — waiting "
              "for a quiet window", file=sys.stderr, flush=True)
        time.sleep(20)


def _jvm_gc_ms(spark) -> int:
    """Total stop-the-world GC milliseconds since JVM start (GC MXBeans).
    Local mode shares ONE JVM heap across all task threads, so GC cost
    that grows with parallelism shows up as a per-core throughput loss
    the N->4N scaling number must be able to attribute — on a real
    cluster each of the 4N executors has its own heap and collector."""
    try:
        beans = (spark._jvm.java.lang.management.ManagementFactory
                 .getGarbageCollectorMXBeans())
        return sum(max(0, beans.get(i).getCollectionTime())
                   for i in range(beans.size()))
    except Exception:  # noqa: BLE001 — diagnostics must never fail a run
        return -1


def main() -> None:
    from panako_spark.session import default_cpus

    ap = argparse.ArgumentParser(
        description=__doc__.split("\n")[0],
        formatter_class=argparse.ArgumentDefaultsHelpFormatter)
    ap.add_argument("--cpus", type=int, default=default_cpus(),
                    help="local[N] for this run ($SPARK_GRAFT_CPUS if set, "
                         "else the CPUs this process may use)")
    ap.add_argument("--n-base", type=int, default=1500,
                    help="base images in the synthetic pipeline corpus")
    ap.add_argument("--repeats", type=int, default=3,
                    help="repeats per table query (median reported)")
    ap.add_argument("--skip-tables", action="store_true",
                    help="only run the image pipeline")
    ap.add_argument("--skip-pipeline", action="store_true",
                    help="only run the table queries")
    ap.add_argument("--mode", choices=["full", "store"], default="full",
                    help="pipeline benchmark mode: 'full' = extract →"
                         " candidates → verify → cluster; 'store' ="
                         " extract + write prints/signatures only (the"
                         " reference's own store-throughput protocol)")
    ap.add_argument("--event-log", default=None, metavar="DIR",
                    help="write a Spark event log into DIR (per-stage "
                         "task metrics; see BENCH/ATTRIBUTION.md)")
    ap.add_argument("--conf", action="append", default=[], metavar="K=V",
                    help="extra Spark conf (repeatable), e.g. "
                         "--conf spark.sql.adaptive."
                         "maxShuffledHashJoinLocalMapThreshold=128m")
    ap.add_argument("--no-quiet-wait", action="store_true",
                    help="start immediately instead of waiting (bounded, "
                         "240 s) for a <5%% steal window")
    args = ap.parse_args()

    # Staleness gate (VERDICT r4 #1): the shipped --py-files artifact must
    # match the sources this bench run measures. The build is deterministic,
    # so rebuild-on-mismatch both fixes dist/ in place (git then shows it
    # dirty, forcing a commit) and guarantees the numbers below were
    # produced by code identical to the artifact.
    try:
        from tools.make_pyfiles import OUT as _ZIP, build as _build_zip
        import tempfile as _tf
        with _tf.TemporaryDirectory() as _td:
            _fresh = _build_zip(os.path.join(_td, "fresh.zip"))
            with open(_fresh, "rb") as f:
                _want = f.read()
            _have = b""
            if os.path.exists(_ZIP):
                with open(_ZIP, "rb") as f:
                    _have = f.read()
            if _have != _want:
                # ship the byte-compared artifact itself (no second
                # build, no window for sources to move in between)
                shutil.copyfile(_fresh, _ZIP)
                print("bench: dist/panako_spark.zip was stale — rebuilt "
                      "(commit the refreshed zip)",
                      file=sys.stderr, flush=True)
    except Exception as e:  # noqa: BLE001 — gate must not kill a bench run
        print(f"bench: zip freshness gate skipped: {e}",
              file=sys.stderr, flush=True)

    if not args.no_quiet_wait:
        probe = wait_for_quiet()
        print(f"bench: pre-flight probe steal {probe:.1f}%",
              file=sys.stderr, flush=True)

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]

    from panako_spark.session import get_spark

    # ONE conf at every parallelism level (the scaling protocol compares
    # levels, so the conf must not vary with them). Shuffle partitions
    # are sized by the build-side math, not by cores: the bench-scale
    # hit exchanges move ~9-14 GB, so 256 partitions keep per-task
    # shuffled-hash-join builds at ~25-55 MB — comfortably under the
    # 128 MB SHJ threshold (at 32 partitions the ~440 MB reduce blocks
    # silently fell back to sort-merge, which burned 2x the CPU at 8
    # busy cores: local[8] full-pipeline wall 904 s -> 806 s from this
    # change alone) and small enough that the concurrent probe tasks'
    # hash maps stay cache-resident. The 8 MB AQE advisory keeps the
    # small stages coalescing as before; tiny-stage overproliferation
    # is handled where it arises (connected_components caps its own
    # loop). On a real cluster the same rule is "partitions ~= shuffle
    # bytes / 64 MB", independent of executor count.
    extra_conf = {"spark.sql.files.maxPartitionBytes":
                  str(8 * 1024 * 1024),
                  "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8m"}
    if args.event_log:
        os.makedirs(args.event_log, exist_ok=True)
        extra_conf["spark.eventLog.enabled"] = "true"
        extra_conf["spark.eventLog.dir"] = "file:" + args.event_log
        extra_conf["spark.eventLog.compress"] = "false"
        extra_conf["spark.eventLog.rolling.enabled"] = "false"
    for kv in args.conf:
        k, _, v = kv.partition("=")
        extra_conf[k] = v
    spark = get_spark("panako-bench", cpus=args.cpus,
                      shuffle_partitions=256,
                      extra_conf=extra_conf)
    timings: dict[str, float] = {}

    steal0 = _cpu_counters()
    query_steal: dict[str, float] = {}
    if not args.skip_tables:
        import statistics

        import __spark_entry__ as E

        qs = E.queries()
        for name in HEADLINE:
            reps = []
            s_before = _cpu_counters()
            for _ in range(max(1, args.repeats)):
                t0 = time.monotonic()
                df = qs[name](spark, sf_dir)
                df.count()
                reps.append(time.monotonic() - t0)
            timings[name] = round(statistics.median(reps), 3)
            query_steal[name] = _steal_pct(s_before, _cpu_counters())

    images_per_sec = None
    n_images = 0
    if not args.skip_pipeline:
        from panako_spark.config import PanakoConfig
        from panako_spark.io.checkpoint import CheckpointStore
        from panako_spark.pipeline import run_pipeline

        corpus = bench_corpus_path(args.n_base, spark=spark)
        images = spark.read.parquet(corpus)
        n_images = images.count()
        ckpt = tempfile.mkdtemp(prefix="panako_bench_ckpt_")
        store = CheckpointStore(ckpt)
        # Spin up every Python worker (NumPy/pandas imports + the Arrow
        # task path) BEFORE the timer. The north rule compares
        # steady-state THROUGHPUT at N vs 4N cores; a 10^12-row job
        # amortizes worker spinup to zero, but at bench corpus sizes
        # the 4N level pays 4x the spinup inside its timed window —
        # measured r5 (store decomposition, 29k images): cold-worker
        # local[32] extract 31-45 s vs 24 s warm, while local[8] moves
        # ~3 s. Same treatment at both levels; table queries already
        # warm via repeats.
        from panako_spark.config import PanakoConfig as _PC
        from panako_spark.stages.extract import run_extract as _warm_ex
        import pyspark.sql.functions as _F
        (_warm_ex(images.limit(args.cpus * 8).repartition(args.cpus), _PC())
         .select(_F.sum("n_prints")).collect())
        s_pipe = _cpu_counters()
        gc0 = _jvm_gc_ms(spark)
        t0 = time.monotonic()
        stage_stats: dict = {}
        if args.mode == "store":
            from panako_spark.pipeline import materialize_extract

            materialize_extract(spark, images, store, PanakoConfig(),
                                stage_stats)
            key = "image_store"
        else:
            res = run_pipeline(spark, images, store, PanakoConfig())
            res.clusters.count()
            stage_stats = {k: v for k, v in res.stats.items()
                           if k.startswith("t_")}
            key = "image_dedup_pipeline"
        dt = time.monotonic() - t0
        timings[key] = round(dt, 3)
        query_steal[key] = _steal_pct(s_pipe, _cpu_counters())
        gc1 = _jvm_gc_ms(spark)
        pipeline_gc_ms = (gc1 - gc0) if gc0 >= 0 and gc1 >= 0 else None
        images_per_sec = round(n_images / dt, 2)
        shutil.rmtree(ckpt, ignore_errors=True)

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "panako_spark total wall-clock (headline queries + "
                  "image dedup pipeline)",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpus": args.cpus,
        "host_cpus": len(os.sched_getaffinity(0)),
        "n_images": n_images,
        "images_per_sec": images_per_sec,
        "steal_pct": _steal_pct(steal0, _cpu_counters()),
        "steal_pct_per_query": query_steal,
        "repeats_per_table_query": args.repeats,
    }
    if not args.skip_pipeline and stage_stats:
        out["stages"] = stage_stats
        if pipeline_gc_ms is not None:
            out["pipeline_gc_ms"] = pipeline_gc_ms
        # the reference's own headline protocol is store-rate; the
        # ingest (extract -> prints+signatures) happens inside the
        # pipeline run, so report its rate too. Scaling evidence
        # (N vs 4N medians) lives in BENCH/BASELINE.md.
        t_store = (stage_stats.get("t_extract_prints_s", 0)
                   + stage_stats.get("t_signatures_s", 0))
        if t_store and n_images:
            out["store_images_per_sec"] = round(n_images / t_store, 2)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
