"""Run one workload over several seeds and summarise each metric by its
median and quartile spread (``statistics.quantiles(values, n=4)``; spread =
(Q3 - Q1) / median). Run from the repository root:

    python3 perfbench/spread.py --workload rewrite_narrow --seeds 1-10 \\
        --seconds 6 [--trace 0] [--out perfbench/baseline/NAME.json]

Runs go one after another, so they share the box with nothing else this
script starts.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def parse_seeds(text: str) -> list[int]:
    seeds: list[int] = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--seconds", default="6")
    p.add_argument("--trace", default="0")
    p.add_argument("--out")
    args = p.parse_args()
    run_py = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                          "run.py")
    runs = []
    for seed in parse_seeds(args.seeds):
        t0 = time.time()
        proc = subprocess.run(
            [sys.executable, run_py, "--workload", args.workload,
             "--seed", str(seed), "--seconds", args.seconds,
             "--trace", args.trace],
            capture_output=True, text=True, timeout=900)
        lines = proc.stdout.strip().splitlines()
        env = next((json.loads(ln[4:]) for ln in lines
                    if ln.startswith("env ")), {})
        result = json.loads(lines[-1]) if lines else {}
        runs.append({"seed": seed, "exit": proc.returncode,
                     "wall_s": time.time() - t0, "env": env,
                     "result": result})
        print(json.dumps({"seed": seed, "exit": proc.returncode,
                          "wall_s": round(time.time() - t0, 1),
                          "correct": result.get("correct"),
                          "metrics": {k: v["value"] for k, v in
                                      result.get("metrics", {}).items()}}),
              flush=True)
    summary = {}
    names = {k for r in runs for k in r["result"].get("metrics", {})}
    for name in sorted(names):
        vals = [r["result"]["metrics"][name]["value"] for r in runs
                if name in r["result"].get("metrics", {})]
        med = statistics.median(vals)
        q1, _, q3 = (statistics.quantiles(vals, n=4) if len(vals) > 1
                     else (med, med, med))
        summary[name] = {"median": med, "q1": q1, "q3": q3,
                         "spread": (q3 - q1) / med if med else 0.0,
                         "n": len(vals)}
        print(f"{name:40s} median {med:12.6g}  spread {summary[name]['spread']:.3f}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"workload": args.workload, "seconds": args.seconds,
                       "trace": args.trace, "summary": summary,
                       "runs": runs}, f, indent=1)
    return 0 if all(r["exit"] == 0 for r in runs) else 1


if __name__ == "__main__":
    sys.exit(main())
