#!/usr/bin/env python3
"""Repeat runs of the benchmark and their spread, next to each metric's bound.

    python3 perfbench/steadiness.py --workload queries --seeds 1-10

For every end-to-end metric of BENCHMARK.json it reports the ten values,
their median, quartiles (``statistics.quantiles(values, n=4)``) and
spread, the distance between the quartiles as a share of the median. The
figures go to ``perfbench/STEADINESS.json`` under the workload and the seed
range, with each run's wall time, load averages and CPU steal share. When
another seed range of the same workload is already recorded, each metric
also gets the change of its median against that set, in the metric's worse
direction.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seed_range(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(bench: dict, workload: str, seed: int) -> dict:
    cmd = list(bench["command"]) + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(bench["run_seconds"]), "--trace", "0",
    ]
    t0 = time.time()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    wall = time.time() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise SystemExit(f"{workload} seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
    result = json.loads(lines[-1])
    stamp = next(json.loads(l[len("# stamp "):]) for l in lines if l.startswith("# stamp "))
    return {"seed": seed, "wall_s": round(wall, 2), "result": result,
            "loadavg": [stamp["loadavg_start"][0], stamp["loadavg_end"][0]],
            "steal": stamp.get("cpu_steal_share")}


def summarize(bench: dict, runs: list[dict]) -> dict:
    out = {}
    for m in bench["end_to_end"]:
        values = [r["result"]["metrics"][m["name"]]["value"] for r in runs]
        q1, med, q3 = statistics.quantiles(values, n=4)
        median = statistics.median(values)
        spread = (q3 - q1) / median
        out[m["name"]] = {
            "values": [round(v, 4) for v in values],
            "median": median, "q1": q1, "q3": q3, "spread": round(spread, 4),
            "bound": m["bound"], "spread_over_bound": round(spread / m["bound"], 3),
        }
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out", default=os.path.join(HERE, "STEADINESS.json"))
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    runs = []
    for seed in seed_range(args.seeds):
        r = run_once(bench, args.workload, seed)
        runs.append(r)
        metrics = {k: round(v["value"], 4) for k, v in r["result"]["metrics"].items()}
        print(f"seed {seed}: wall {r['wall_s']} s, correct {r['result']['correct']}, {metrics}", flush=True)
    summary = summarize(bench, runs)
    for name, s in summary.items():
        print(f"{args.workload:24s} {name:14s} median {s['median']:.4g} spread {s['spread']:.4f} "
              f"bound {s['bound']} ({s['spread_over_bound']:.2f} of it)")
    record = {}
    if os.path.exists(args.out):
        with open(args.out) as f:
            record = json.load(f)
    sets = record.setdefault(args.workload, {})
    better = {m["name"]: m["better"] for m in bench["end_to_end"]}
    for other_name, other in sets.items():
        if other_name == args.seeds:
            continue
        for name, s in summary.items():
            change = s["median"] / other["metrics"][name]["median"] - 1.0
            worse = change if better[name] == "lower" else -change
            s.setdefault("worse_than", {})[other_name] = round(worse, 4)
            print(f"{args.workload:24s} {name:14s} vs seeds {other_name}: worse by {worse:+.4f} "
                  f"(bound {s['bound']})")
    sets[args.seeds] = {
        "run_seconds": bench["run_seconds"],
        "all_correct": all(r["result"]["correct"] for r in runs),
        "wall_s": [r["wall_s"] for r in runs],
        "loadavg_start_end": [r["loadavg"] for r in runs],
        "cpu_steal_share": [r["steal"] for r in runs],
        "metrics": summary,
    }
    with open(args.out, "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
