"""Spark-free self-test of the benchmark's bookkeeping.

    python3 -m pytest perfbench/test_perfbench.py -q

Checks that every metric BENCHMARK.json names is emitted, with its unit, by
the code that assembles a run's result, and that span self-time arithmetic
is right on a hand-built span tree.
"""

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402
from tracing import Span, Tracer, self_times  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def _span(i, name, parent, start, end, core, **counts):
    return Span(i, name, parent, 0, start, end, core, counts=counts)


def test_workloads_match_the_runner():
    assert [w["name"] for w in BENCH["workloads"]] == list(run.WORKLOAD_NAMES)


def test_every_end_to_end_metric_is_emitted_with_its_unit():
    values = run.end_to_end_metrics(3.0, [1.0, 2.0], 6.0, 12, 0.9, 0.8)
    out = run.with_units(values)
    want = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    assert {k: v["unit"] for k, v in out.items()} == want
    assert out["setup_s"]["value"] == 3.0
    assert out["images_per_s"]["value"] == 4.0
    assert out["cpu_s_per_image"]["value"] == 0.5
    # the contract forbids metrics that can read 0 on a passing run
    assert all(v["value"] > 0 for v in out.values())


def test_every_per_layer_metric_is_emitted_with_its_unit():
    spans = [
        _span(0, "session", None, 0, 5, 1.0),
        _span(1, "replay", None, 5, 20, 40.0, **{"candidates.precision": .5}),
        _span(2, "extract", 1, 5, 8, 9.0, images=10, prints=900),
        _span(3, "checkpoint.write", 1, 8, 9, 2.0),
        _span(4, "checkpoint.read", 1, 9, 10, 1.0, bytes_on_disk=4096),
        _span(5, "verify", 1, 10, 12, 6.0, pairs_in=8, pairs_out=2),
        _span(6, "verify", 1, 12, 13, 3.0, pairs_in=2, pairs_out=2),
        _span(7, "pipeline", None, 20, 30, 30.0,
              labels={"pairs": {"tasks": 7, "task_s": 1.5}}),
    ]
    spans[2].spark = {"tasks": 4, "jvm_cpu_s": 1.25, "gc_ms": 3.0}
    out = run.with_units(run.traced_metrics(spans, 0.01))
    want = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    assert {k: v["unit"] for k, v in out.items()} == want
    v = {k: x["value"] for k, x in out.items()}
    assert v["session.start_s"] == 5
    assert (v["extract.wall_s"], v["extract.core_s"]) == (3, 9.0)
    assert (v["extract.tasks"], v["extract.jvm_cpu_s"]) == (4, 1.25)
    assert (v["checkpoint.write_s"], v["checkpoint.read_s"]) == (1, 1)
    assert v["verify.wall_s"] == 3 and v["verify.pairs_out"] == 4
    assert v["verify.accept_ratio"] == 0.4
    assert v["candidates.precision"] == 0.5
    assert v["pipeline.pairs.tasks"] == 7
    assert v["cluster.wall_s"] == 0      # a layer the workload never calls
    # replay: 40 busy core-s, 21 of them inside its layer spans
    assert v["trace.busy_core_s"] == 40.0
    assert v["trace.layer_core_share"] == 21.0 / 40.0
    assert v["trace.traced_op_s"] == 10


def test_extract_trace_reads_its_top_level_operations():
    spans = [_span(0, "extract", None, 0, 1, 1.0, images=16),
             _span(1, "extract", None, 1, 3, 2.0, images=17)]
    v = run.traced_metrics(spans, 0.0)
    assert (v["extract.images"], v["extract.wall_s"]) == (33, 3)
    assert v["trace.busy_core_s"] == 3.0
    assert v["trace.layer_core_share"] == 1.0
    assert v["trace.traced_op_s"] == 1.5


def test_self_time_subtracts_the_union_of_children():
    spans = [
        _span(0, "root", None, 0, 10, 20.0),
        _span(1, "a", 0, 1, 3, 3.0),
        _span(2, "b", 0, 2, 5, 5.0),    # overlaps a: [1, 5) is covered once
        _span(3, "c", 0, 8, 12, 2.0),   # ends after its parent: clipped
        _span(4, "d", 2, 3, 4, 1.0),    # grandchild counts against b only
    ]
    selfs = self_times(spans)
    assert selfs[0] == (10 - 6, 20.0 - 10.0)
    assert selfs[2] == (3 - 1, 4.0)
    assert selfs[4] == (1, 1.0)


def test_tracer_nests_spans_and_measures_them():
    ticks = iter(range(100))
    tracer = Tracer(clock=lambda: float(next(ticks)),
                    cpu=lambda: (100 * next(ticks), 0))
    with tracer.span("outer", op=3):
        with tracer.span("inner") as inner:
            inner.counts["rows"] = 1
    outer, inner = tracer.spans
    assert (inner.parent, inner.op) == (outer.id, 3)
    assert outer.start < inner.start < inner.end < outer.end
    assert inner.core_s > 0 and outer.core_s > inner.core_s


def test_tail_needs_ten_samples_beyond_it():
    assert run.tail([1.0] * 10)["percentile"] is None
    t = run.tail([float(i) for i in range(20)])
    assert (t["percentile"], t["value"], t["samples"]) == (50.0, 9.0, 20)
