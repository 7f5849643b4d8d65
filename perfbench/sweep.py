"""Run the benchmark over several seeds and summarize each metric.

    python3 perfbench/sweep.py --workload daily_tick --seeds 1-10 [--trace 1] [--out FILE]

Runs ``run.py`` once per seed (sequentially, from the repository root,
for BENCHMARK.json's ``run_seconds``) and prints, per metric, the median, the quartiles and the spread: the
distance between the first and third quartile as a share of the
median, as ``statistics.quantiles(values, n=4)`` gives them. With
``--out`` the summary, the raw result lines and each run's stamp are
added to a JSON file under the key ``<workload>/trace<0|1>/seeds<seeds>``
(this is how ``baseline-4core.json`` was made).
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


def parse_seeds(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def summarize(values: list[float]) -> dict:
    med = statistics.median(values)
    out = {"n": len(values), "median": med}
    if len(values) >= 2:
        q1, _, q3 = statistics.quantiles(values, n=4)
        out.update(q1=q1, q3=q3, spread=(q3 - q1) / med if med else None)
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        seconds = str(json.load(f)["run_seconds"])

    runs = []
    for seed in parse_seeds(args.seeds):
        t0 = time.time()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", seconds, "--trace", str(args.trace)],
            cwd=ROOT, capture_output=True, text=True, timeout=400,
        )
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-3000:]}", file=sys.stderr)
            return 1
        result = json.loads(lines[-1])
        record_path = os.path.join(
            ROOT, ".bench_out", f"{args.workload}-seed{seed}-trace{args.trace}.json"
        )
        with open(record_path) as f:
            stamp = json.load(f)["stamp"]
        runs.append({"seed": seed, "wall_s": time.time() - t0, "result": result, "stamp": stamp})
        print(f"seed {seed}: {time.time() - t0:.1f}s correct={result['correct']} "
              f"failed={result['failed']}/{result['attempted']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()),
              flush=True)

    metrics = {
        name: summarize([r["result"]["metrics"][name]["value"] for r in runs])
        for name in runs[0]["result"]["metrics"]
    }
    for name, s in metrics.items():
        spread = s.get("spread")
        print(f"{name}: median {s['median']:.6g}"
              + (f" spread {spread:.4f}" if spread is not None else ""))
    print(f"run wall: median {statistics.median(r['wall_s'] for r in runs):.1f}s, "
          f"max {max(r['wall_s'] for r in runs):.1f}s")
    if args.out:
        # one file holds several sweeps, keyed by workload and trace mode
        sweeps = {}
        if os.path.exists(args.out):
            with open(args.out) as f:
                sweeps = json.load(f)
        sweeps[f"{args.workload}/trace{args.trace}/seeds{args.seeds}"] = {
            "seconds": seconds, "metrics": metrics, "runs": runs,
        }
        with open(args.out, "w") as f:
            json.dump(sweeps, f, indent=1)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
