#!/usr/bin/env python3
"""Steadiness check: run workloads over several seeds, untraced and for
BENCHMARK.json's run_seconds, and report per end-to-end metric the median
and the inter-quartile spread as a share of the median (the rule
BENCHMARK.json's bounds are judged by).

Usage (from the repository root):
  python3 perfbench/steady.py --workloads etl_month,query_mix --seeds 1-10 [--out f.json]
"""
import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402


def seeds(spec):
    a, _, b = spec.partition("-")
    return list(range(int(a), int(b or a) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out")
    args = ap.parse_args()
    bench = json.load(open(os.path.join(HERE, "..", "BENCHMARK.json")))
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    report = {}
    for w in args.workloads.split(","):
        runs = []
        for s in seeds(args.seeds):
            t0 = time.time()
            r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(s), "--seconds", str(bench["run_seconds"]),
                                "--trace", "0"], capture_output=True, text=True)
            if r.returncode != 0:
                print(f"{w} seed {s}: exit {r.returncode}\n{r.stderr[-2000:]}", flush=True)
                continue
            lines = r.stdout.strip().splitlines()
            last = json.loads(lines[-1])
            last["wall_s"] = time.time() - t0
            # every printed "name = value unit" line, kept or not
            for ln in lines[:-1]:
                k, eq, rest = ln.partition(" = ")
                if eq and not ln.startswith("#") and k not in last["metrics"]:
                    last["metrics"][k] = {"value": float(rest.split()[0]), "unit": rest.split()[1]}
            runs.append(last)
            print(f"{w} seed {s}: correct={last['correct']} wall={last['wall_s']:.1f}s "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in last["metrics"].items()), flush=True)
        rep = {"runs": len(runs), "all_correct": all(r["correct"] for r in runs),
               "mean_wall_s": sum(r["wall_s"] for r in runs) / max(1, len(runs)), "metrics": {}}
        if len(runs) >= 2:
            for k in runs[0]["metrics"]:
                vals = [r["metrics"][k]["value"] for r in runs]
                sp = stats.spread(vals) if stats.median(vals) else float("nan")
                rep["metrics"][k] = {"median": stats.median(vals), "spread": sp,
                                     "bound": bounds.get(k), "values": vals}
                print(f"  {w} {k}: median={stats.median(vals):.4g} spread={sp:.3f} "
                      f"bound={bounds.get(k)}", flush=True)
        report[w] = rep
    if args.out:
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)


if __name__ == "__main__":
    main()
