"""Tracing overhead, measured with untraced and traced runs interleaved.

    python3 perfbench/overhead.py --workloads nightly_etl stream_drain \
        --seeds 31-33 --out perfbench/baseline/overhead.json

For each seed the workload runs untraced, then traced, so both sides see
the same host window; the overhead is the median traced ``trace.wall_s``
minus the median untraced ``wall_s``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics

from steady import ROOT, run_one, seeds


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--seeds", default="31-33")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]
    doc = {}
    for wl in args.workloads:
        untraced, traced = [], []
        for seed in seeds(args.seeds):
            untraced.append(run_one(wl, seed, seconds, 0)["result"]["metrics"]
                            ["wall_s"]["value"])
            traced.append(run_one(wl, seed, seconds, 1)["result"]["metrics"]
                          ["trace.wall_s"]["value"])
        u, t = statistics.median(untraced), statistics.median(traced)
        doc[wl] = {"seeds": seeds(args.seeds), "untraced_wall_s": untraced,
                   "traced_wall_s": traced, "overhead_s": t - u,
                   "overhead_share": (t - u) / u}
        print(f"{wl}: untraced {u:.3f} s, traced {t:.3f} s, overhead "
              f"{t - u:+.3f} s ({(t - u) / u:+.1%})", flush=True)
    with open(args.out, "w") as f:
        json.dump(doc, f, indent=1)


if __name__ == "__main__":
    main()
