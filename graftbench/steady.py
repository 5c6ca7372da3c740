#!/usr/bin/env python3
"""Steadiness check: runs the benchmark once per seed and reports, for each
end-to-end metric, the median and the interquartile range as a share of
the median (statistics.quantiles(values, n=4)), next to the metric's bound.

    python3 graftbench/steady.py --workload <name> [--seeds 1-10] [--out file.json]

Run from the repo root. Also reports figures that are printed but not
gated (jvm.first_pass_s, setup without session start) the same way.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT_HINT = "run from the repo root"
UNGATED = ("jvm.first_pass_s", "setup_no_session_s", "session.start_s", "cpu_steal", "cpu_busy")


def spread(xs):
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / statistics.median(xs)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out")
    a = ap.parse_args()
    lo, hi = (int(x) for x in a.seeds.split("-"))
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    runs = []
    for seed in range(lo, hi + 1):
        p = subprocess.run([*bench["command"], "--workload", a.workload, "--seed", str(seed),
                            "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                           capture_output=True, text=True)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            sys.exit(f"seed {seed} failed ({p.returncode}):\n{p.stderr[-2000:]}")
        summary = json.loads(lines[-2].split(" ", 1)[1])
        result = json.loads(lines[-1])
        runs.append({"seed": seed, "result": result, "summary": summary})
        vals = {k: round(v["value"], 4) for k, v in result["metrics"].items()}
        print(f"seed {seed}: correct={result['correct']} {vals} wall={summary['wall_s']:.1f}s",
              flush=True)
    report = {"workload": a.workload, "seeds": a.seeds, "metrics": {}, "ungated": {}}
    for name, bound in bounds.items():
        xs = [r["result"]["metrics"][name]["value"] for r in runs]
        report["metrics"][name] = {"median": statistics.median(xs), "spread": spread(xs),
                                   "bound": bound, "values": xs}
    for name in UNGATED:
        xs = [r["summary"][name] for r in runs]
        report["ungated"][name] = {"median": statistics.median(xs), "spread": spread(xs), "values": xs}
    report["all_correct"] = all(r["result"]["correct"] for r in runs)
    report["max_wall_s"] = max(r["summary"]["wall_s"] for r in runs)
    report["runs"] = runs
    for k, v in {**report["metrics"], **report["ungated"]}.items():
        print(f"{k:22s} median={v['median']:.4f} spread={v['spread']:.4f}"
              + (f" bound={v['bound']} (third={v['bound'] / 3:.4f})" if "bound" in v else ""))
    if a.out:
        with open(a.out, "w") as f:
            json.dump(report, f, indent=1)


if __name__ == "__main__":
    if not os.path.exists("BENCHMARK.json"):
        sys.exit(f"steady.py: BENCHMARK.json not found; {ROOT_HINT}")
    main()
