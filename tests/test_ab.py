"""tools/ab.py: pair order, win counting, the gain rule and failed runs.

The benchmark runs are `python -c` one-liners that print the two lines
perfbench/run.py prints, from per-seed values in their directory's
vals.json, so no Spark session starts.
"""

import json
import sys

import pytest

from tools import ab

FAKE = (
    "import json,sys;v=json.load(open('vals.json'))[sys.argv[-1]];"
    "print(json.dumps({'steal_share':v.get('steal',0.0)}));"
    "print(v['raw'] if 'raw' in v else json.dumps({'correct':True,"
    "'attempted':1,'failed':0,'metrics':{k:{'value':x,'unit':'s'} "
    "for k,x in v['m'].items()}}));sys.exit(v.get('exit',0))")
E2E = [{"name": "op_p50_s", "better": "lower", "bound": 0.25},
       {"name": "recall", "better": "higher", "bound": 0.2}]


def fake_side(tmp_path, name, per_seed):
    d = tmp_path / name
    d.mkdir(parents=True)
    (d / "vals.json").write_text(json.dumps(
        {str(seed): v for seed, v in per_seed.items()}))
    return str(d)


def run(tmp_path, parent, change, seed0=1):
    """Run both fake sides; returns (runs, number of waits, log path)."""
    waits = []
    log = tmp_path / "log" / "ab.jsonl"
    runs = ab.run_pairs(
        (fake_side(tmp_path, "parent", parent),
         fake_side(tmp_path, "change", change)),
        len(parent), seed0, [sys.executable, "-c", FAKE],
        lambda: waits.append(1), str(log))
    return runs, len(waits), log


def row(table, name):
    return next(r for r in table.splitlines() if r.startswith(name))


def metrics(op, recall=1.0):
    return {"m": {"op_p50_s": op, "recall": recall}}


def test_pairs_alternate_parent_first_on_even_pairs(tmp_path):
    vals = {s: metrics(1.0) for s in range(5, 9)}
    runs, waits, log = run(tmp_path, vals, vals, seed0=5)
    assert [r["side"][0] for r in runs] == list("pccppccp")
    assert [(r["pair"], r["seed"]) for r in runs] == [
        (k, 5 + k) for k in range(4) for _ in range(2)]
    assert waits == 4 and all(r["ok"] for r in runs)
    logged = [json.loads(line) for line in log.read_text().splitlines()]
    assert [(x["side"], x["pair"], x["seed"], x["exit"]) for x in logged] \
        == [(r["side"], r["pair"], r["seed"], 0) for r in runs]
    assert all(len(x["lines"]) == 2 for x in logged)


def test_wins_count_ties_for_neither_in_each_direction(tmp_path):
    parent = {s: metrics(10.0, 0.9) for s in (1, 2, 3, 4)}
    change = {1: metrics(9.0, 0.95), 2: metrics(10.0, 0.9),
              3: metrics(11.0, 0.8), 4: metrics(9.0, 0.95)}
    runs, _, _ = run(tmp_path, parent, change)
    table = ab.report(runs, E2E)
    assert " 2/4 " in row(table, "op_p50_s")  # lower is better
    assert " 2/4 " in row(table, "recall")  # higher is better
    flipped = [dict(m, better={"lower": "higher", "higher": "lower"}[
        m["better"]]) for m in E2E]
    table = ab.report(runs, flipped)
    assert " 1/4 " in row(table, "op_p50_s")
    assert " 1/4 " in row(table, "recall")
    assert "failed runs: 0 of 8" in table


# parent: median 12, quartiles 11 and 13, so an IQR of 2
PARENT = [10, 11, 12, 13, 14, 10, 11, 12, 13, 14]


@pytest.mark.parametrize("c, wins, pairs, expected", [
    ([9] * 10, 10, 10, "gain"),
    ([9] * 10, 9, 10, "gain"),
    ([9] * 10, 8, 10, "within noise"),  # gap 3 > IQR, but 8/10 wins
    ([11] * 10, 10, 10, "within noise"),  # 10/10 wins, gap 1 < IQR
    ([9] * 9, 9, 9, "within noise"),  # fewer than ten pairs
    ([16] * 10, 0, 10, "worse"),  # beyond the 25% bound
])
def test_gain_needs_nine_of_ten_wins_and_a_gap_beyond_parent_iqr(
        c, wins, pairs, expected):
    assert ab.verdict(PARENT, c, wins, pairs, "lower", 0.25) == expected
    mirrored = [-x for x in c]
    assert ab.verdict([-x for x in PARENT], mirrored, wins, pairs,
                      "higher", 0.25) == expected


def test_spread_wider_than_bound_is_unresolved_unless_disjoint():
    wide = [6, 10, 14, 18] * 3  # IQR 6 on a median of 12
    assert ab.verdict(wide, [11] * 12, 6, 12, "lower", 0.25) == "unresolved"
    assert ab.verdict(wide, [5] * 12, 6, 12, "lower", 0.25) == "within noise"


def test_failed_and_garbled_runs_are_counted_and_shown(tmp_path):
    parent = {1: {"raw": "not json"}, 2: metrics(10.0), 3: metrics(10.0)}
    change = {1: metrics(5.0), 2: dict(metrics(5.0), exit=1),
              3: dict(metrics(9.0), steal=0.08)}
    runs, _, log = run(tmp_path, parent, change)
    assert [r["ok"] for r in runs] == [False, True, False, True, True, True]
    table = ab.report(runs, E2E)
    # only pair 2 has two good runs: the change's 5.0 in pair 0 (against a
    # garbled parent run) and in pair 1 (a run that exited 1) wins nothing
    assert " 1/3 " in row(table, "op_p50_s")
    assert "failed runs: 2 of 6" in table
    assert "pair 0 parent seed 1: exit 0, last line 'not json'" in table
    assert "pair 1 change seed 2: exit 1" in table
    assert "dirty pairs (steal_share > 0.05): 2" in table
    assert len(log.read_text().splitlines()) == 6

    dead = {s: {"raw": "", "exit": 2} for s in (1, 2)}
    runs, _, _ = run(tmp_path / "dead", {1: metrics(1.0), 2: metrics(1.0)},
                     dead)
    table = ab.report(runs, E2E)
    assert "no successful run on a side" in row(table, "op_p50_s")
    assert "failed runs: 2 of 4" in table
