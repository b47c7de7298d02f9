"""Write perfbench/baseline/BASELINE.md from steadiness runs.

    python3 perfbench/steady.py --workloads nightly_etl stream_drain \
        --seeds 1-10 --out perfbench/baseline/untraced.json
    python3 perfbench/steady.py --workloads nightly_etl stream_drain \
        --seeds 1-3 --trace 1 --out perfbench/baseline/traced.json
    python3 perfbench/overhead.py --workloads nightly_etl stream_drain \
        --seeds 31-33 --out perfbench/baseline/overhead.json
    python3 perfbench/baseline.py --commit <sha> --host "<cores, machine>"

The tables give each workload's end-to-end medians with their quartile
spread, the traced run's per-layer medians, the five largest self-time
layers and, from ``baseline/overhead.json`` (``overhead.py``), the
tracing overhead. When ``baseline/second.json`` (another ``steady.py``
output over other seeds) exists, its medians are set against the first
set's.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics

HERE = os.path.dirname(os.path.abspath(__file__))
OUT = os.path.join(HERE, "baseline")


def fmt(v) -> str:
    if v is None:
        return "-"
    return f"{v:.4g}" if isinstance(v, float) else str(v)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--commit", required=True)
    ap.add_argument("--host", required=True)
    args = ap.parse_args()
    with open(os.path.join(OUT, "untraced.json")) as f:
        untraced = json.load(f)
    with open(os.path.join(OUT, "traced.json")) as f:
        traced = json.load(f)
    second, overhead = {}, {}
    if os.path.exists(os.path.join(OUT, "second.json")):
        with open(os.path.join(OUT, "second.json")) as f:
            second = json.load(f)["workloads"]
    if os.path.exists(os.path.join(OUT, "overhead.json")):
        with open(os.path.join(OUT, "overhead.json")) as f:
            overhead = json.load(f)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    e2e = [m["name"] for m in bench["end_to_end"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    lines = [f"# perfbench baseline at {args.commit}", "",
             f"Host: {args.host}. `run_seconds` {untraced['seconds']}; every run "
             "is one process on `local[nproc]`; after one untimed warm-up "
             "pass it measures a fixed number of passes.", ""]
    for wl, body in untraced["workloads"].items():
        runs = body["runs"]
        lines += [f"## {wl}", "",
                  f"{len(runs)} untraced runs, seeds "
                  f"{', '.join(str(r['seed']) for r in runs)}; a run took "
                  f"{min(body['elapsed_s']):.0f}-{max(body['elapsed_s']):.0f} s "
                  f"and measured {runs[0]['report']['passes']} pass(es).", "",
                  "| metric | unit | median | q1 | q3 | spread (IQR/median) | bound |",
                  "|---|---|---|---|---|---|---|"]
        for name in e2e:
            st = body["stats"][name]
            lines.append(f"| {name} | {units[name]} | {fmt(st['median'])} | "
                         f"{fmt(st['q1'])} | {fmt(st['q3'])} | "
                         f"{fmt(st['iqr_share'])} | {fmt(bounds[name])} |")
        report = {}
        for r in runs:
            for name, m in r["report"]["metrics"].items():
                if name not in e2e and m["value"] is not None:
                    report.setdefault(name, []).append((m["value"], m["n"]))
        lines += ["", "Also on the report line (median over the runs; n = samples "
                  "in one run):", ""]
        for name, vals in report.items():
            lines.append(f"- `{name}` {fmt(statistics.median(v for v, _ in vals))}"
                         f" (n = {vals[0][1]})")
        failed = [f for r in runs for f in r["report"]["failures"]]
        shares = [r["report"]["failed_share"]["value"] for r in runs]
        lines.append(f"- `failed_share` {fmt(max(shares))} (max over runs)"
                     + (": " + "; ".join(f"{f['op']} {f['status']}: {f['error']}"
                                         for f in failed) if failed else
                        ", no failed or wrong operation"))

        other = second.get(wl)
        if other:
            lines += ["", f"Second set ({len(other['runs'])} runs, seeds "
                      f"{', '.join(str(r['seed']) for r in other['runs'])}):", "",
                      "| metric | first median | second median | change | bound |",
                      "|---|---|---|---|---|"]
            for name in e2e:
                st, m2 = body["stats"][name], other["stats"][name]["median"]
                lines.append(f"| {name} | {fmt(st['median'])} | {fmt(m2)} | "
                             f"{(m2 - st['median']) / st['median']:+.3f} | "
                             f"{fmt(bounds[name])} |")

        tr = traced["workloads"].get(wl)
        if not tr:
            lines.append("")
            continue
        tstats = tr["stats"]
        selfs = sorted(((k.removeprefix("self_s."), st["median"])
                        for k, st in tstats.items() if k.startswith("self_s.")),
                       key=lambda kv: -kv[1])
        gap = max(abs(sum(m["value"] for k, m in r["result"]["metrics"].items()
                          if k.startswith("self_s."))
                      - r["result"]["metrics"]["trace.wall_s"]["value"])
                  for r in tr["runs"])
        lines += ["", f"Traced ({len(tr['runs'])} runs, seeds "
                  f"{', '.join(str(r['seed']) for r in tr['runs'])}; medians "
                  "below). In every traced run the per-layer self times sum to "
                  f"`trace.wall_s` within {gap:.4f} s.", "",
                  "Five largest self-time layers: " + ", ".join(
                      f"{k} {v:.3f} s" for k, v in selfs[:5]) + ".", ""]
        oh = overhead.get(wl)
        if oh:
            lines += [f"Tracing overhead from untraced and traced runs interleaved "
                      f"per seed (seeds {', '.join(map(str, oh['seeds']))}): "
                      f"untraced `wall_s` {statistics.median(oh['untraced_wall_s']):.3f} s, "
                      f"traced `trace.wall_s` {statistics.median(oh['traced_wall_s']):.3f} s, "
                      f"overhead {oh['overhead_s']:+.3f} s ({oh['overhead_share']:+.1%}).",
                      ""]
        lines += [
                  "| per-layer metric | unit | median | q1 | q3 |",
                  "|---|---|---|---|---|"]
        for name, st in tstats.items():
            lines.append(f"| {name} | {units.get(name, '')} | {fmt(st['median'])} | "
                         f"{fmt(st['q1'])} | {fmt(st['q3'])} |")
        lines.append("")
    with open(os.path.join(OUT, "BASELINE.md"), "w") as f:
        f.write("\n".join(lines) + "\n")


if __name__ == "__main__":
    main()
