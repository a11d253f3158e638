"""Run the benchmark once per seed and summarise the spread.

    python3 perfbench/sweep.py --workload ann_dedup --seeds 1-10 \
        [--seconds N] [--trace 1] [--out perfbench/baseline/ann_dedup.json]

``--seconds`` defaults to ``run_seconds`` in BENCHMARK.json, so a sweep
measures what the benchmark runs.

For every metric: median, first and third quartile
(``statistics.quantiles(values, n=4)``) and the spread (Q3 - Q1) as a
share of the median, the figure each end-to-end metric's ``bound`` in
BENCHMARK.json is compared against. ``--out`` keeps every run's result
line and the summary as JSON.
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


def seeds(spec: str) -> list[int]:
    a, _, b = spec.partition("-")
    return list(range(int(a), int(b or a) + 1))


def summary(results: list[dict]) -> dict:
    out = {}
    for name in results[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in results]
        med = statistics.median(vals)
        q1, _q2, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
        out[name] = {
            "unit": results[0]["metrics"][name]["unit"], "median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0, "values": vals,
        }
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        run_seconds = json.load(f)["run_seconds"]
    ap.add_argument("--seconds", default=str(run_seconds))
    ap.add_argument("--trace", default="0")
    ap.add_argument("--out")
    args = ap.parse_args()

    results, walls = [], []
    for seed in seeds(args.seeds):
        t = time.time()
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", args.seconds, "--trace", args.trace],
            capture_output=True, text=True, timeout=600,
        )
        walls.append(time.time() - t)
        last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
        if p.returncode != 0 or not last.startswith("{"):
            sys.stderr.write(p.stdout[-2000:] + p.stderr[-4000:])
            print(f"seed {seed}: exit {p.returncode}, no result")
            return 1
        res = json.loads(last)
        res["seed"] = seed
        res["notes"] = [line for line in p.stdout.splitlines() if line.startswith("# ")]
        results.append(res)
        print(f"seed {seed}: {walls[-1]:.1f} s wall, correct={res['correct']}, "
              + ", ".join(f"{k}={v['value']:.4g}" for k, v in list(res["metrics"].items())[:4]),
              flush=True)
    s = summary(results)
    for name, v in s.items():
        print(f"{name:32s} median {v['median']:.6g} {v['unit']}  "
              f"q1 {v['q1']:.6g}  q3 {v['q3']:.6g}  spread {v['spread']:.3f}")
    print(f"wall per run: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"workload": args.workload, "seconds": args.seconds, "trace": args.trace,
                       "wall_s": walls, "summary": s, "runs": results}, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
