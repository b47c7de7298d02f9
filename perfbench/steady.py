"""Steadiness runs: the benchmark over several seeds, one workload at a time.

    python3 perfbench/steady.py --workloads nightly_etl stream_drain \
        --seeds 1-10 [--trace 0|1] [--out perfbench/baseline/steady.json]

Runs ``run.py`` once per (workload, seed) as a child process, in order, and
prints per end-to-end metric the median and the interquartile spread
(quartiles by ``statistics.quantiles(values, n=4)``) as a share of the
median, against the metric's bound in BENCHMARK.json. With ``--out``
every run's report and result lines are saved too.
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
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3,
            "iqr_share": (q3 - q1) / med if med else None, "n": len(values)}


def run_one(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.time()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{workload} seed {seed}: rc={proc.returncode}\n"
                           f"{proc.stderr[-3000:]}")
    return {"seed": seed, "elapsed_s": time.time() - t0,
            "report": json.loads(lines[-2]), "result": json.loads(lines[-1])}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}

    doc = {"seconds": bench["run_seconds"], "trace": args.trace, "workloads": {}}
    for wl in args.workloads:
        runs = []
        for seed in seeds(args.seeds):
            r = run_one(wl, seed, bench["run_seconds"], args.trace)
            runs.append(r)
            print(f"{wl} seed {seed}: {r['elapsed_s']:.1f} s, correct="
                  f"{r['result']['correct']}, " + ", ".join(
                      f"{k}={v['value']:.4g}" for k, v in r["result"]["metrics"].items()
                      if k in bounds or args.trace), flush=True)
        names = runs[0]["result"]["metrics"]
        stats = {k: spread([r["result"]["metrics"][k]["value"] for r in runs])
                 for k in names}
        for k, st in stats.items():
            if k in bounds:
                st["bound"] = bounds[k]
                print(f"  {k}: median {st['median']:.4g}, spread "
                      f"{st['iqr_share']:.3f} (bound {bounds[k]})", flush=True)
        doc["workloads"][wl] = {"stats": stats, "runs": runs,
                                "elapsed_s": [r["elapsed_s"] for r in runs]}
    if args.out:
        with open(args.out, "w") as f:
            json.dump(doc, f, indent=1)


if __name__ == "__main__":
    main()
