#!/usr/bin/env python3
"""Steadiness check: run one workload N times, each with another seed, and
print every metric's median, quartiles and spread — the interquartile
distance as a share of the median, as ``statistics.quantiles(values, n=4)``
gives it — against the metric's bound in BENCHMARK.json.

    python3 perfbench/steady.py --workload ingest --runs 10 [--seed0 1]
        [--seconds 20] [--trace 0] [--out results.json]

Run from the repository root.  Runs are sequential; the wall of each run is
reported too, since the steadiness protocol (22 runs per workload plus 4)
must fit in 3420 s.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    ap.add_argument("--out")
    args = ap.parse_args()

    root = os.path.dirname(HERE)
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = args.seconds or bench["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"] + bench["per_layer"]}
    runs = []
    for i in range(args.runs):
        seed = args.seed0 + i
        cmd = [*bench["command"], "--workload", args.workload, "--seed", str(seed),
               "--seconds", str(seconds), "--trace", str(args.trace)]
        t0 = time.perf_counter()
        p = subprocess.run(cmd, cwd=root, capture_output=True, text=True, timeout=600)
        wall = time.perf_counter() - t0
        last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
        result = json.loads(last) if last.startswith("{") else {}
        runs.append({"seed": seed, "rc": p.returncode, "wall_s": wall, **result})
        vals = {k: round(v["value"], 4) for k, v in result.get("metrics", {}).items()}
        print(f"seed {seed}: rc={p.returncode} wall={wall:.1f}s correct={result.get('correct')} "
              f"{vals if len(vals) <= 8 else ''}", flush=True)
        if p.returncode:
            print(p.stderr[-3000:], file=sys.stderr)

    ok = [r for r in runs if r.get("metrics")]
    print(f"\n{args.workload}: {len(ok)}/{len(runs)} runs reported, "
          f"all correct={all(r.get('correct') for r in ok)}, "
          f"wall median {stats.percentile([r['wall_s'] for r in runs], 50):.1f}s")
    summary = {}
    for name in (ok[0]["metrics"] if ok else {}):
        vals = [r["metrics"][name]["value"] for r in ok]
        s = stats.spread(vals) if len(vals) >= 2 else {"median": vals[0], "spread": 0.0,
                                                        "q1": vals[0], "q3": vals[0]}
        bound = bounds.get(name)
        summary[name] = {**s, "bound": bound}
        rel = f"{s['spread'] / bound:5.2f} of bound {bound}" if bound else ""
        print(f"  {name:40s} median {s['median']:12.4f}  q1 {s['q1']:12.4f}  "
              f"q3 {s['q3']:12.4f}  spread {s['spread']:6.3f}  {rel}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"workload": args.workload, "runs": runs, "summary": summary}, f, indent=1)
    return 0 if ok and all(r.get("correct") for r in ok) else 1


if __name__ == "__main__":
    sys.exit(main())
