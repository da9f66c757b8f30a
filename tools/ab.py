"""Interleaved parent/change A/B of the repository benchmark.

    python3 tools/ab.py PARENT_DIR CHANGE_DIR --workload W --pairs N --seed0 S

The directories are local checkouts (`git worktree add`). Pair k runs
BENCHMARK.json's command (`--trace 0`, run_seconds, seed S+k) in both after
a bounded quiet-window wait, parent first when k is even, and logs each run
to .perfbench/ab-<timestamp>.jsonl. Wins count pairs (ties for neither side).
Verdicts: `gain` (>= 9/10 of at least ten pairs won and medians apart by more
than the parent's IQR), `worse` (beyond the metric's bound), `unresolved`
(parent IQR wider than the bound, and not every change run better than every
parent run) or `within noise`. A failed run (non-zero exit or no result line)
is listed and wins nothing; a pair with steal_share above 0.05 on a side is
flagged dirty, not dropped.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SIDES = ("parent", "change")
DIRTY_STEAL = 0.05
LOGGED = ("side", "pair", "seed", "exit", "lines")  # per run, in the log


def run_once(argv: list[str], cwd: str) -> dict:
    """One benchmark run: exit code, last two stdout lines, parsed lines."""
    p = subprocess.run(argv, cwd=cwd, stdout=subprocess.PIPE, text=True)
    lines = p.stdout.splitlines()[-2:]
    try:
        details, result = ([{}, None] + [json.loads(s) for s in lines])[-2:]
    except ValueError:
        details, result = {}, None
    ok = (p.returncode == 0 and isinstance(result, dict)
          and isinstance(result.get("metrics"), dict))
    return {"exit": p.returncode, "lines": lines, "ok": ok,
            "details": details if isinstance(details, dict) else {},
            "metrics": result["metrics"] if ok else {}}


def run_pairs(dirs: tuple[str, str], pairs: int, seed0: int, argv: list[str],
              wait, log_path: str) -> list[dict]:
    """Run `argv --seed S+k` in A/B/B/A order; returns the runs in order."""
    runs = []
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    with open(log_path, "a") as log:
        for k in range(pairs):
            wait()
            for side in SIDES if k % 2 == 0 else SIDES[::-1]:
                r = run_once([*argv, "--seed", str(seed0 + k)],
                             dirs[SIDES.index(side)])
                r.update(side=side, pair=k, seed=seed0 + k)
                print(json.dumps({k: r[k] for k in LOGGED}), file=log,
                      flush=True)
                print(f"ab: pair {k} {side} exit {r['exit']}", file=sys.stderr)
                runs.append(r)
    return runs


def quartiles(xs: list[float]) -> list[float]:
    """[Q1, median, Q3]; a single run is its own quartiles."""
    return (statistics.quantiles(xs, n=4, method="inclusive")
            if len(xs) > 1 else xs * 3)


def verdict(p: list[float], c: list[float], wins: int, pairs: int,
            better: str, bound: float) -> str:
    """The verdict on one metric from each side's successful runs."""
    sign = 1 if better == "higher" else -1
    q1, pm, q3 = quartiles(p)
    gap = sign * (statistics.median(c) - pm)  # > 0: the change is better
    if pairs >= 10 and wins * 10 >= 9 * pairs and gap > q3 - q1:
        return "gain"
    if -gap > bound * abs(pm):
        return "worse"
    if (q3 - q1 > bound * abs(pm)
            and min(sign * x for x in c) <= max(sign * x for x in p)):
        return "unresolved"
    return "within noise"


def report(runs: list[dict], end_to_end: list[dict]) -> str:
    """The A/B table, then the failed runs and the dirty pairs."""
    by = {(r["side"], r["pair"]): r for r in runs}
    pairs = max(r["pair"] for r in runs) + 1
    out = [f"{'metric':<16}{'parent p50':>12}{'parent IQR':>12}"
           f"{'change p50':>12}{'ratio':>8}{'wins':>7}  verdict"]
    for m in end_to_end:
        name, sign = m["name"], 1 if m["better"] == "higher" else -1
        p, c = ({k: by[s, k]["metrics"][name]["value"] for k in range(pairs)
                 if by[s, k]["ok"]} for s in SIDES)
        wins = sum(sign * (c[k] - p[k]) > 0 for k in p.keys() & c.keys())
        p, c = list(p.values()), list(c.values())
        if not (p and c):
            out.append(f"{name:<16}no successful run on a side: unresolved")
            continue
        q1, pm, q3 = quartiles(p)
        cm = statistics.median(c)
        out.append(f"{name:<16}{pm:>12.4g}{q3 - q1:>12.4g}{cm:>12.4g}"
                   f"{cm / pm if pm else float('nan'):>8.3f}"
                   f"{f'{wins}/{pairs}':>7}  "
                   + verdict(p, c, wins, pairs, m["better"], m["bound"]))
    failed = [r for r in runs if not r["ok"]]
    out.append(f"failed runs: {len(failed)} of {len(runs)}")
    out += [f"  pair {r['pair']} {r['side']} seed {r['seed']}: exit "
            f"{r['exit']}, last line {(r['lines'] or [''])[-1][:60]!r}"
            for r in failed]
    dirty = sorted({r["pair"] for r in runs
                    if r["details"].get("steal_share", 0) > DIRTY_STEAL})
    out.append(f"dirty pairs (steal_share > {DIRTY_STEAL}): "
               f"{', '.join(map(str, dirty)) or 'none'}")
    return "\n".join(out)


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent_dir")
    ap.add_argument("change_dir")
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seed0", type=int, required=True)
    args = ap.parse_args(argv)
    if args.pairs < 1:
        ap.error("--pairs must be at least 1")
    sys.path.insert(0, ROOT)
    from bench import wait_for_quiet

    argv = [*spec["command"], "--workload", args.workload, "--seconds",
            str(spec["run_seconds"]), "--trace", "0"]
    log = os.path.join(ROOT, ".perfbench",
                       f"ab-{time.strftime('%Y%m%d-%H%M%S')}.jsonl")
    runs = run_pairs((args.parent_dir, args.change_dir), args.pairs,
                     args.seed0, argv, wait_for_quiet, log)
    print(f"{args.workload}: {args.pairs} pairs from seed {args.seed0}; runs "
          f"in {os.path.relpath(log)}\n{report(runs, spec['end_to_end'])}")
    return 0 if all(r["ok"] for r in runs) else 1


if __name__ == "__main__":
    sys.exit(main())
