"""Benchmark runner: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload dedup --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. With --trace 0 the run measures the
end-to-end metrics with tracing off; with --trace 1 it records a span
around each call into a layer and reports the per-layer metrics instead
(spans are written to .perfbench/). The last line of standard output is
{"correct", "attempted", "failed", "metrics"}; the line before it holds the
run's details (per-operation latencies, accuracy counts, steal share).
Exit code 0 means every operation ran and passed its checks.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SETUP_REPS = 3  # input builds per untraced run
WORKLOAD_NAMES = ("dedup", "extract")

# end-to-end metric -> unit, for every workload
E2E_UNITS = {
    "setup_s": "s",
    "op_p50_s": "s",
    "images_per_s": "img/s",
    "cpu_s_per_image": "core-s/img",
    "recall": "ratio",
    "precision": "ratio",
}

# per-layer metrics: layer -> metric keys. Every span of a layer also
# records gc_ms, failed_tasks and spill_bytes; failed tasks and spills are
# reported once for the whole trace.
LAYERS = {
    "session": ("start_s",),
    "extract": ("wall_s", "core_s", "jvm_cpu_s", "images", "prints",
                "err_rows", "tasks", "gc_ms"),
    "checkpoint": ("write_s", "read_s", "rows_written", "bytes_on_disk",
                   "gc_ms"),
    "candidates.fused": ("wall_s", "core_s", "stages", "tasks",
                         "shuffle_write_bytes", "pairs.minhash",
                         "pairs.simhash", "pairs.phash", "pairs.caption_exact",
                         "pairs.caption_substring", "hot_keys",
                         "dropped_pairs_est", "gc_ms"),
    "candidates.landmark": ("wall_s", "core_s", "hit_rows",
                            "shuffle_write_bytes", "tasks", "gc_ms"),
    "candidates.tile": ("wall_s", "core_s", "hit_rows", "shuffle_write_bytes",
                        "tasks", "gc_ms"),
    "verify": ("wall_s", "core_s", "hit_rows_in", "pairs_out", "accept_ratio",
               "tasks", "gc_ms"),
    "cluster": ("wall_s", "core_s", "edges_in", "clusters", "jobs", "stages",
                "tasks", "gc_ms"),
}
PIPELINE_KEYS = ("task_s", "jvm_cpu_s", "tasks", "stages",
                 "shuffle_write_bytes")
PIPELINE_GROUPS = ("extract", "census", "verify", "pairs", "tiles", "cluster",
                   "other")


def unit_of(name: str) -> str:
    key = name.rsplit(".", 1)[-1]
    if key == "gc_ms":
        return "ms"
    if key.endswith("_s"):
        return "s"
    if "bytes" in key:
        return "bytes"
    if key in ("accept_ratio", "precision", "layer_core_share",
               "steal_share"):
        return "ratio"
    return "count"


def tail(latencies: list[float]) -> dict:
    """The highest percentile with at least ten samples beyond it.

    Its value is the sorted sample at 0-based rank n - 11; null when a run
    has fewer than 11 samples."""
    n = len(latencies)
    if n < 11:
        return {"percentile": None, "value": None, "samples": n}
    xs = sorted(latencies)
    return {"percentile": round(100.0 * (n - 10) / n, 2),
            "value": xs[n - 11], "samples": n}


def layer_metrics(spans) -> dict:
    """Per-layer metrics from a list of spans (missing layers read 0)."""
    from tracing import self_times

    selfs = self_times(spans)
    agg: dict[str, dict] = {}
    for s in spans:
        layer, _, kind = s.name.partition(".") if s.name.startswith(
            "checkpoint.") else (s.name, "", "")
        a = agg.setdefault(layer, {})
        wall, core = selfs[s.id]
        items = [("wall_s", wall), ("core_s", core), *s.spark.items(),
                 *((k, v) for k, v in s.counts.items()
                   if isinstance(v, (int, float)))]
        if kind:
            items.append((f"{kind}_s", wall))  # checkpoint write_s, read_s
        for k, v in items:
            a[k] = a.get(k, 0) + v
    out = {}
    for layer, keys in LAYERS.items():
        a = agg.get(layer, {})
        a["start_s"] = a.get("wall_s", 0)
        a["accept_ratio"] = a.get("pairs_out", 0) / max(1, a.get("pairs_in",
                                                                   0))
        for k in keys:
            out[f"{layer}.{k}"] = a.get(k, 0)
    replay = agg.get("replay", {})
    out["candidates.precision"] = replay.get("candidates.precision", 0)
    labels = next((s.counts["labels"] for s in spans
                   if "labels" in s.counts), {})
    for g in PIPELINE_GROUPS:
        for k in PIPELINE_KEYS:
            out[f"pipeline.{g}.{k}"] = labels.get(g, {}).get(k, 0)
    out["trace.failed_tasks"] = sum(s.spark.get("failed_tasks", 0)
                                    for s in spans)
    out["trace.spill_bytes"] = sum(s.spark.get("spill_bytes", 0)
                                   for s in spans)
    # the measured work: the serial replay, else each extract operation
    roots = [s for s in spans if s.name == "replay"] or op_spans(spans)
    ids = {s.id for s in roots}
    layers = [s for s in spans if s.parent in ids]
    busy = sum(s.core_s for s in roots)
    layered = sum(s.core_s for s in layers) if layers else busy
    out["trace.busy_core_s"] = busy
    out["trace.layer_core_share"] = layered / busy if busy else 0
    return out


def op_spans(spans) -> list:
    """The spans of timed operations: the traced run_pipeline, else each
    top-level extract operation."""
    return [s for s in spans if s.name == "pipeline"
            or (s.name == "extract" and s.parent is None)]


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: str) -> None:
    """Process environment, set before the JVM starts: Spark and temp files
    inside the checkout, the package on the Python workers' path, one BLAS
    thread per worker."""
    for v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(v, "1")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"


def stop_spark() -> None:
    """Stop the session and the JVM gateway, and wait for the JVM to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    s = SparkSession.getActiveSession()
    if s is not None:
        s.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:  # the JVM must not outlive the run
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def closed_loop(wl, seconds: float, trace: bool):
    """One client: the next operation starts when the previous one returns,
    until `seconds` have passed. A traced dedup run replays the pipeline's
    stages serially first, then runs the pipeline once."""
    from sysstat import CpuWindow

    latencies, op_cpu, fails = [], 0.0, []
    attempted = failed = 0
    deadline = time.monotonic() + seconds
    while True:
        i = attempted
        attempted += 1
        cpu = CpuWindow()
        t0 = time.monotonic()
        try:
            if trace and wl.name == "dedup":
                if i == 0:
                    wl.traced_replay(i)
                    continue
                out = wl.traced_op(i)
            else:
                out = wl.op(i)
            latencies.append(time.monotonic() - t0)
            op_cpu += cpu.stop().busy_s
            op_fails = wl.check(i, out)
        except Exception:  # noqa: BLE001 — a failed op is counted, not fatal
            traceback.print_exc()
            op_fails = [f"op {i} raised"]
        if op_fails:
            failed += 1
            fails += op_fails
        if time.monotonic() >= deadline:
            break
    return latencies, op_cpu, attempted, failed, fails


def run(args, work: str) -> tuple[dict, dict]:
    from panako_spark.session import get_spark
    from sysstat import CpuWindow, MemorySampler
    from tracing import Span, Tracer
    from workloads import WORKLOADS

    cpus = nproc()
    wl = WORKLOADS[args.workload](args.seed, cpus, work)
    fails: list[str] = []
    # The session starts once: a restart in the same JVM would time
    # neither the JVM launch nor anything the library's settings change.
    t0 = time.monotonic()
    cpu = CpuWindow()
    spark = get_spark("perfbench", cpus=cpus) if wl.uses_spark else None
    session_s = time.monotonic() - t0 if wl.uses_spark else 0.0
    if args.trace:
        wl.tracer = Tracer(spark)
        if spark is not None:
            wl.tracer.spans.append(Span(0, "session", None, None, t0,
                                        t0 + session_s, cpu.stop().busy_s))
    reps = []
    for _ in range(1 if args.trace else SETUP_REPS):
        t0 = time.monotonic()
        fails += wl.setup(spark)
        reps.append(time.monotonic() - t0)
    with MemorySampler() as mem:
        # one warm-up operation after the last set-up
        t0 = time.monotonic()
        with wl.span("setup"):
            fails += wl.warm_up()
        warm_s = time.monotonic() - t0
        setup_s = session_s + statistics.median(reps) + warm_s
        run_cpu = CpuWindow()
        latencies, op_cpu, attempted, failed, op_fails = closed_loop(
            wl, args.seconds, args.trace)
        run_cpu.stop()
    fails += op_fails + wl.check_run()

    details = {
        "workload": wl.name, "seed": args.seed, "trace": args.trace,
        "cpus": cpus, "session_s": session_s, "setup_reps_s": reps,
        "warm_up_s": warm_s, "op_latencies_s": latencies,
        "op_tail_s": tail(latencies), "images": wl.images_done,
        "steal_share": run_cpu.steal_share,
        # process-tree PSS over warm-up and timed window; not an end-to-end
        # metric because G1 grows the default heap differently run to run
        "peak_rss_mb": mem.peak / 2 ** 20,
        "failed_op_ratio": failed / attempted, "failures": fails,
        **wl.details,
    }
    if args.trace:
        path = os.path.join(ROOT, ".perfbench",
                            f"spans-{wl.name}-seed{args.seed}.json")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        wl.tracer.dump(path)
        details["spans"] = os.path.relpath(path, ROOT)
        values = traced_metrics(wl.tracer.spans, run_cpu.steal_share)
    else:
        values = end_to_end_metrics(setup_s, latencies, op_cpu,
                                    wl.images_done, wl.recall(),
                                    wl.precision())
    # a failed set-up check fails the run even when every operation passed
    failed = max(failed, 1) if fails else 0
    return details, {"correct": not fails, "attempted": attempted,
                     "failed": failed, "metrics": values}


def end_to_end_metrics(setup_s: float, latencies: list[float],
                       op_core_s: float, images: int, recall: float,
                       precision: float) -> dict:
    latencies = latencies or [0.0]  # every operation failed
    return {
        "setup_s": setup_s,
        "op_p50_s": statistics.median(latencies),
        "images_per_s": images / (sum(latencies) or 1),
        "cpu_s_per_image": op_core_s / max(1, images),
        "recall": recall,
        "precision": precision,
    }


def traced_metrics(spans, steal_share: float) -> dict:
    values = layer_metrics(spans)
    values["trace.steal_share"] = steal_share
    ops = [s.wall_s for s in op_spans(spans)]
    values["trace.traced_op_s"] = statistics.median(ops or [0.0])
    return values


def with_units(values: dict) -> dict:
    return {k: {"value": v, "unit": E2E_UNITS.get(k) or unit_of(k)}
            for k, v in values.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "panako_spark", "pipeline.py")):
        print(f"perfbench: no panako_spark package under {ROOT}; run from "
              "the root of a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench", f"work-{os.getpid()}")
    prepare_env(work)
    try:
        details, result = run(args, work)
    finally:
        stop_spark()
        shutil.rmtree(work, ignore_errors=True)
    result["metrics"] = with_units(result["metrics"])
    print(json.dumps(details))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
