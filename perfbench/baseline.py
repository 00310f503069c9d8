#!/usr/bin/env python3
"""Record a baseline: run every workload of BENCHMARK.json once per seed
(untraced) plus one traced run per workload, and write the median, the
quartiles and the spread (interquartile distance / median) of every
end-to-end metric, and the traced run's per-layer figures, to a JSON file.

    python3 perfbench/baseline.py --seeds 1-10 [--out perfbench/baseline.json]
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


def seeds_of(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict, float]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.perf_counter()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600, check=True)
    wall = time.perf_counter() - t0
    summary, result = (json.loads(x) for x in p.stdout.strip().splitlines()[-2:])
    return summary, result, wall


def spread(values: list[float]) -> dict:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return {"median": q2, "q1": q1, "q3": q3, "spread": (q3 - q1) / q2 if q2 else None,
            "n": len(values)}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out", default=os.path.join(HERE, "baseline.json"))
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    out = {"run_seconds": bench["run_seconds"], "workloads": {}}
    for w in (w["name"] for w in bench["workloads"]):
        runs = []
        for seed in seeds_of(args.seeds):
            summary, result, wall = run(w, seed, bench["run_seconds"], 0)
            runs.append({"seed": seed, "wall_s": wall, "correct": result["correct"],
                         "metrics": {k: v["value"] for k, v in result["metrics"].items()},
                         "host": summary["host"], "box": summary["box"]})
            print(w, seed, f"{wall:.1f}s", json.dumps(result["metrics"]), file=sys.stderr)
        summary, traced, wall = run(w, seeds_of(args.seeds)[0], bench["run_seconds"], 1)
        out["workloads"][w] = {
            "seeds": args.seeds,
            "end_to_end": {m["name"]: dict(spread([r["metrics"][m["name"]] for r in runs]),
                                           unit=m["unit"], bound=m["bound"])
                           for m in bench["end_to_end"]},
            "run_wall_s": spread([r["wall_s"] for r in runs]),
            "all_correct": all(r["correct"] for r in runs),
            "runs": runs,
            "per_layer": {k: v["value"] for k, v in traced["metrics"].items()},
            "traced_wall_s": wall,
        }
        out["box"] = runs[0]["box"]
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")
    for w, rec in out["workloads"].items():
        for k, s in rec["end_to_end"].items():
            print(f"{w:9s} {k:12s} median {s['median']:.4g} spread {s['spread']:.3f} "
                  f"(bound {s['bound']})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
