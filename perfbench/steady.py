"""Repeat the benchmark over several seeds and summarise its spread.

    python3 perfbench/steady.py --runs 10 [--workloads daily_catchup,query_mix]
                                [--first-seed 1] [--out perfbench/results/steadiness.json]

Run from the repository root. For each workload it runs
``perfbench/run.py`` once per seed (seeds first-seed, first-seed+1, ...)
with ``run_seconds`` from BENCHMARK.json, and reports per end-to-end
metric the median, the quartiles and the quartile spread as a share of
the median, against the metric's bound. The untimed warm-up and
set-up figures of every run are kept alongside, so the cold-start cost
excluded from ``wall_s`` stays visible.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def summarise(values: list[float], bound: float) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    spread = (q3 - q1) / med if med else 0.0
    return {"median": med, "q1": q1, "q3": q3, "spread": spread, "bound": bound,
            "within_third_of_bound": spread <= bound / 3, "values": values}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", default=None)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = args.workloads.split(",") if args.workloads else [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m.get("bound", 0.0) for m in spec["end_to_end"]}
    report = {"run_seconds": spec["run_seconds"], "runs": args.runs, "workloads": {}}
    for wl in names:
        metrics: dict[str, list[float]] = {}
        runs = []
        for i in range(args.runs):
            seed = args.first_seed + i
            t0 = time.time()
            cmd = spec["command"] + ["--workload", wl, "--seed", str(seed),
                                     "--seconds", str(spec["run_seconds"]), "--trace", "0"]
            res = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
            took = time.time() - t0
            if res.returncode != 0:
                print(res.stderr[-3000:], file=sys.stderr)
                raise SystemExit(f"{wl} seed {seed}: exit {res.returncode}")
            out = json.loads(res.stdout.strip().splitlines()[-1])
            rec = json.load(open(sorted(glob.glob(os.path.join(
                ROOT, ".perfbench-work", "runs", f"{wl}-s{seed}-t0-*[0-9].json")),
                key=os.path.getmtime)[-1]))
            runs.append({"seed": seed, "process_s": took, "correct": out["correct"],
                         "attempted": out["attempted"], "failed": out["failed"],
                         "setup": rec["setup"], "warmup_latencies_s": rec["warmup_latencies_s"],
                         "latencies_s": rec["latencies_s"]})
            for k, v in out["metrics"].items():
                metrics.setdefault(k, []).append(v["value"])
            print(f"{wl} seed {seed}: {took:.1f} s, correct={out['correct']}, "
                  + ", ".join(f"{k}={v['value']:.4g}" for k, v in out["metrics"].items()),
                  file=sys.stderr, flush=True)
        summary = ({k: summarise(v, bounds.get(k, 0.0)) for k, v in metrics.items()}
                   if args.runs >= 2 else {})
        report["workloads"][wl] = {"metrics": summary, "runs": runs}
        for k, s in summary.items():
            print(f"  {wl:14s} {k:16s} median={s['median']:.4g} spread={s['spread']:.3f} "
                  f"bound={s['bound']}", file=sys.stderr)
    text = json.dumps(report, indent=1)
    if args.out:
        os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
        with open(args.out, "w") as fh:
            fh.write(text + "\n")
    else:
        print(text)
    return 0


if __name__ == "__main__":
    sys.exit(main())
