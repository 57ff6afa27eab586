#!/usr/bin/env python3
"""A/B two checkouts on a perfbench workload, as alternating pairs of runs.

    python3 scripts/ab.py --base /path/to/parent --change . \\
        --workload seller_ingest --seeds 921-930 --seconds 10

Each seed is one pair: both checkouts run ``perfbench/run.py`` with that seed,
one right after the other, and the side that runs first swaps from pair to pair,
so warm-up and host drift fall on both sides alike.  Then, per end-to-end metric
of the change's BENCHMARK.json (plus any ``--metric``), it prints each side's
median and quartiles, the change's win count over the pairs, and whether the
medians differ by more than the base's interquartile range.  With ``--trace 1``
the end-to-end metrics are read under their ``traced.`` names, and per-layer
ones such as ``knn.s`` can be added with ``--metric``.  Nothing under perfbench/
is changed; each checkout runs its own copy.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

RUN_TIMEOUT_S = 1800  # one perfbench run; a hung run counts as an error


def parse_seeds(text: str) -> list[int]:
    seeds: list[int] = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds += range(int(lo), int(hi or lo) + 1)
    return seeds


def run_once(root: str, workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    try:
        p = subprocess.run(cmd, cwd=root, capture_output=True, text=True, timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        return {"error": f"timed out after {RUN_TIMEOUT_S} s"}
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return {"error": f"exit {p.returncode}: {p.stderr.strip()[-500:]}"}
    return json.loads(lines[-1])


def value(result: dict, name: str) -> float | None:
    metrics = result.get("metrics", {})
    m = metrics.get(name) or metrics.get("traced." + name)
    return None if m is None else m["value"]


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def cell(q: tuple[float, float, float]) -> str:
    return f"{q[1]:.4g} [{q[0]:.4g}, {q[2]:.4g}]"


def report(workload: str, runs: list[dict], names: list[str], better: dict[str, str]) -> None:
    bad = {s: sum(1 for p in runs if "error" in p[s] or not p[s]["correct"] or p[s]["failed"])
           for s in ("base", "change")}
    print(f"{workload}: {len(runs)} pairs; runs with errors or failed ops: "
          f"base {bad['base']}, change {bad['change']}")
    print(f"{'metric':24} {'base median [q1, q3]':>30} {'change median [q1, q3]':>30} "
          f"{'change/base':>11} {'wins':>6} {'> base IQR':>10}")
    for name in names:
        pairs = [(value(p["base"], name), value(p["change"], name)) for p in runs]
        pairs = [(b, c) for b, c in pairs if b is not None and c is not None]
        if not pairs:
            continue
        bq, cq = quartiles([b for b, _ in pairs]), quartiles([c for _, c in pairs])
        lower = better.get(name.removeprefix("traced."), "lower") == "lower"
        wins = sum(1 for b, c in pairs if (c < b if lower else c > b))
        ratio = cq[1] / bq[1] if bq[1] else float("nan")
        beyond = abs(cq[1] - bq[1]) > bq[2] - bq[0]
        print(f"{name:24} {cell(bq):>30} {cell(cq):>30} {ratio:>11.3f} "
              f"{f'{wins}/{len(pairs)}':>6} {'yes' if beyond else 'no':>10}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", required=True, help="checkout of the parent")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 921-930 or 1,5,9")
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--metric", action="append", default=[], help="extra metric to report")
    args = ap.parse_args()

    with open(os.path.join(args.change, "BENCHMARK.json")) as f:
        bench = json.load(f)
    better = {m["name"]: m["better"] for m in bench["end_to_end"] + bench["per_layer"]}
    names = [m["name"] for m in bench["end_to_end"]] + args.metric
    sides = {"base": os.path.abspath(args.base), "change": os.path.abspath(args.change)}
    runs: list[dict] = []
    for i, seed in enumerate(parse_seeds(args.seeds)):
        order = ["base", "change"] if i % 2 == 0 else ["change", "base"]
        pair = {"seed": seed, "first": order[0]}
        for side in order:
            res = run_once(sides[side], args.workload, seed, args.seconds, args.trace)
            pair[side] = res
            status = res.get("error") or f"correct={res['correct']} failed={res['failed']}/{res['attempted']}"
            print(f"seed {seed} {side}: {status} op_p50_s={value(res, 'op_p50_s')}", file=sys.stderr, flush=True)
        runs.append(pair)
    report(args.workload, runs, names, better)
    return 0


if __name__ == "__main__":
    sys.exit(main())
