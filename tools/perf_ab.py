#!/usr/bin/env python
"""Interleaved parent/change A/B over the warehouse benchmark.

Runs ``perfbench/run.py`` in two checkouts, alternating which side runs
first in each pair, for one workload and seed, then prints per
end-to-end metric each side's median and quartiles, the pairs the
change won (ties count for neither side) and the median change against
the bound ``BENCHMARK.json`` fixes. Every run is a fresh process with
the run length ``BENCHMARK.json`` sets, so both sides run identical
settings. Check the parent out beside the working tree first:

    git worktree add /tmp/parent HEAD~1
    python tools/perf_ab.py /tmp/parent . --workload pipelines --seed 7 --pairs 10
    git worktree remove /tmp/parent

A gain is claimed (``claim: yes``) only when the change wins at least
nine tenths of the pairs and the medians differ by more than the
parent's interquartile range. Run it on a quiet host: runs of identical
code drift by up to a quarter within minutes (perfbench/README.md,
"Measured spread").
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys


def run_once(checkout: str, workload: str, seed: int, seconds: float) -> tuple[dict, dict]:
    """One ``perfbench/run.py`` run; returns its closing JSON line and
    its ``record`` line."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    out = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        raise RuntimeError(f"{checkout}: exit {out.returncode}\n{out.stderr[-2000:]}")
    record = next(json.loads(ln[len("record "):]) for ln in lines if ln.startswith("record "))
    return json.loads(lines[-1]), record


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def summarize(spec: dict, base: list[float], head: list[float]) -> str:
    """One report line for a metric: medians, quartiles, pairs won,
    median change against the bound, and whether a gain may be claimed."""
    sign = 1.0 if spec["better"] == "lower" else -1.0
    pairs = [(b, h) for b, h in zip(base, head) if b is not None and h is not None]
    if not pairs:
        return f"{spec['name']}: no pair with both values"
    base, head = [b for b, _ in pairs], [h for _, h in pairs]
    bq, hq = quartiles(base), quartiles(head)
    won = sum(1 for b, h in zip(base, head) if sign * (h - b) < 0)
    lost = sum(1 for b, h in zip(base, head) if sign * (h - b) > 0)
    worse = sign * (hq[1] - bq[1]) / bq[1] if bq[1] else 0.0
    claim = won >= 0.9 * len(base) and abs(hq[1] - bq[1]) > bq[2] - bq[0]
    return (f"{spec['name']} [{spec['unit']}] "
            f"parent {bq[1]:.4g} (q1 {bq[0]:.4g}, q3 {bq[2]:.4g}) "
            f"change {hq[1]:.4g} (q1 {hq[0]:.4g}, q3 {hq[2]:.4g}) "
            f"ratio {hq[1] / bq[1] if bq[1] else float('nan'):.3f} "
            f"won {won}/{len(base)} lost {lost} "
            f"worse {worse:+.1%} of bound {spec['bound']:.0%} "
            f"{'REGRESSION' if worse > spec['bound'] else 'ok'} "
            f"claim {'yes' if claim else 'no'}")


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("base", help="checkout of the parent commit")
    p.add_argument("head", help="checkout of the change")
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--pairs", type=int, default=10)
    args = p.parse_args(argv)
    with open(os.path.join(args.head, "BENCHMARK.json")) as f:
        bench = json.load(f)
    specs = bench["end_to_end"]
    values = {"base": {s["name"]: [] for s in specs}, "head": {s["name"]: [] for s in specs}}
    failed = {"base": [0, 0], "head": [0, 0]}
    for i in range(args.pairs):
        order = ("base", "head") if i % 2 == 0 else ("head", "base")
        for side in order:
            res, record = run_once(getattr(args, side), args.workload, args.seed,
                                   bench["run_seconds"])
            failed[side][0] += res["failed"]
            failed[side][1] += res["attempted"]
            got = {n: m["value"] for n, m in res["metrics"].items()}
            for s in specs:
                values[side][s["name"]].append(got[s["name"]])
            print(f"pair {i} {side} correct={res['correct']} "
                  + " ".join(f"{n}={v}" for n, v in got.items())
                  + f" host_steal_share={record['named']['host_steal_share']}", flush=True)
    print(f"workload {args.workload} seed {args.seed} pairs {args.pairs}")
    for side in ("base", "head"):
        f, a = failed[side]
        print(f"{'parent' if side == 'base' else 'change'} fail_ratio {f / max(a, 1):.4g} ({f}/{a})")
    for s in specs:
        print(summarize(s, values["base"][s["name"]], values["head"][s["name"]]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
