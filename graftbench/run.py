#!/usr/bin/env python3
"""graft benchmark: three batch workloads through graft's public API.

    python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repo root. Builds graft plus the benchmark JVM from source
(graftbench/build.py), generates the inputs from the seed, and runs one
client in a closed loop in a fresh JVM with a pinned heap on
GraftSession.builder(master = "local[<nproc>]"). Only warm passes are
timed; every pass checks its row counts and the last output is checked
in full against an independent reference, outside the timed region.

The last stdout line is the result JSON: end-to-end metrics with
--trace 0, per-layer metrics (from spans and Spark-listener counts) with
--trace 1. The line before it ("graftbench-summary ...") adds what is
reported but not gated: error_rate, query_p90_s, jvm.first_pass_s,
CPU busy and steal time. --plant-wrong corrupts every expected output,
to show that the checks fire.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from collections import Counter

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH_DIR)

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("flagship_etl", "warehouse_queries", "curation")
SETUPS = 3            # setup samples per timed run (the last one is the measured JVM's)
HEAP = "2g"           # pinned: -Xms = -Xmx
# JIT thresholds at a quarter of the default, so the driver-side code
# reaches its compiled steady state within the warm-up passes
JIT = ["-XX:CompileThresholdScaling=0.25"]
JVM_GRACE_S = 100     # a JVM that outlives its passes by this much is killed
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def cpu_times():
    """(busy, steal, total) jiffies from the aggregate /proc/stat line."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    idle = v[3] + v[4]
    steal = v[7] if len(v) > 7 else 0
    total = sum(v[:8])
    return total - idle - steal, steal, total


class Jvm:
    """One benchmark JVM; stdout is scanned for READY, stderr goes to a log."""

    def __init__(self, cp, work, args):
        self.log_path = os.path.join(work, "jvm.log")
        os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
        cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", *JIT, *ADD_OPENS,
               f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
               f"-Dderby.system.home={work}",
               "-cp", cp, "graftbench.BenchMain", *args]
        self.log = open(self.log_path, "ab")
        # cwd = work: spark-warehouse/ and metastore files land there too
        self.proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                                     stderr=self.log, text=True)

    def wait_ready(self):
        for line in self.proc.stdout:
            if line.startswith("GRAFTBENCH READY"):
                return
        self.finish(10)
        raise RuntimeError(f"JVM exited before READY; see {self.log_path}")

    def finish(self, timeout):
        try:
            self.proc.communicate(timeout=timeout)
            rc = self.proc.returncode
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
            rc = "killed"
        finally:
            self.log.close()
        if rc != 0:
            with open(self.log_path, errors="replace") as f:
                tail = f.read()[-3000:]
            raise RuntimeError(f"JVM failed ({rc}):\n{tail}")

    def kill(self):
        if self.proc.poll() is None:
            self.proc.kill()
            self.proc.wait()


def references(workload, input_dir, work):
    """Expected row counts for the per-pass checks and the full reference."""
    if workload == "flagship_etl":
        rows, files = checks.flagship_reference(os.path.join(input_dir, "truth.json"))
        return {"rows": sum(rows.values()), "files": files}, rows
    with open(os.path.join(work, "oracle_sql.json")) as f:
        oracle_sql = json.load(f)
    names = ["corpus_curate"] if workload == "curation" else list(WAREHOUSE_MIX)
    ref = checks.oracle_frames(input_dir, oracle_sql, names)
    if workload == "curation":
        return {"curation": len(ref["corpus_curate"])}, ref
    return {q: len(df) for q, df in ref.items()}, ref


def plant_wrong(expected, ref):
    """Corrupts every expected output: counts off by one, one row dropped."""
    expected = {k: v + 1 for k, v in expected.items()}
    if isinstance(ref, Counter):        # flagship rows
        ref = ref.copy()
        ref[next(iter(ref))] -= 1
    else:                               # DuckDB frames by query
        ref = {k: df.iloc[:-1] for k, df in ref.items()}
    return expected, ref


def full_check(workload, out, ref):
    """Returns (checked outputs, problems)."""
    if workload == "flagship_etl":
        return 1, checks.check_flagship(checks.read_flagship_csv(os.path.join(out, "words_csv")), ref)
    if workload == "curation":
        got = checks.read_parquet_dir(os.path.join(out, "curated"))
        return 1, checks.compare_frames("curation", got, ref["corpus_curate"], ordered=False)
    problems = []
    for q in WAREHOUSE_MIX:
        try:
            got = checks.read_parquet_dir(os.path.join(out, "check", q))
            problems += checks.compare_frames(q, got, ref[q])
        except Exception as e:  # a missing output is a failed check
            problems.append(f"{q}: {e}")
    return len(WAREHOUSE_MIX), problems


WAREHOUSE_MIX = ("q1_pricing_summary", "q3_shipping_priority", "q5_region_revenue",
                 "q17_small_qty_revenue", "q21_waiting_supplier", "q_window_rank",
                 "q_events_sessionize", "q_interval_overlap", "q_market_basket",
                 "q_json_extract", "q_percentiles", "q_pagerank")


def p90(xs):
    """Nearest-rank p90, or None unless at least ten samples lie beyond it."""
    s = sorted(xs)
    k = -(-9 * len(s) // 10) - 1
    return s[k] if len(s) - 1 - k >= 10 else None


def end_to_end(res, setups, input_bytes):
    return {
        "setup_s": (statistics.median(setups), "s"),
        "mb_per_s": (input_bytes / 1e6 / statistics.median(res["pass_s"]), "MB/s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
    }


def per_layer(workload, res, spans, input_bytes, cpus):
    """Layer metrics from the traced run; a layer a workload never calls reads 0."""
    med = statistics.median
    pre = res["prefix_s"]
    traced = [s for s in spans if s["name"] == "pass" and 200 < s["pass"] < 300]

    def span_s(name):
        xs = [(s["end_ns"] - s["start_ns"]) / 1e9 for s in spans
              if s["name"] == name and 200 < s["pass"] < 300]
        return med(xs) if xs else 0.0

    def span_count(name, key):
        xs = [s["counts"][key] for s in spans if s["name"] == name and 200 < s["pass"] < 300]
        return med(xs) if xs else 0.0

    def pass_count(key):
        return med([p["counts"][key] for p in traced])

    pass_wall = med([(p["end_ns"] - p["start_ns"]) / 1e9 for p in traced])
    m = {
        "session.start_s": (res["session_start_s"], "s"),
        "sources.list_s": (res["list_s"], "s"),
        "sources.read_s": (pre["sources.read"], "s"),
        "sources.input_mb": (input_bytes / 1e6, "MB"),
        "sources.scan_amplification": (pass_count("input_bytes") / input_bytes, "ratio"),
    }
    ops = {k: 0.0 for k in ("operators.tokenize_s", "operators.word_stats_s",
                            "operators.annotate_s", "operators.minhash_lsh_s",
                            "operators.window_hashes_s", "operators.tok_stats_s",
                            "operators.curate_s")}
    extra = {}   # warehouse_queries' per-query figures, reported in the summary
    shingles = write_s = out_bytes = out_rows = 0.0
    read = pre["sources.read"]
    if workload == "flagship_etl":
        ops["operators.tokenize_s"] = pre["operators.tokenize"] - read
        ops["operators.word_stats_s"] = pre["operators.word_stats"] - pre["operators.tokenize"]
        write_s = span_s("sinks.csv")
        out_bytes, out_rows = span_count("sinks.csv", "output_bytes"), span_count("sinks.csv", "output_rows")
    elif workload == "warehouse_queries":
        for q in WAREHOUSE_MIX:
            extra[f"operators.{q}_s"] = span_s(f"operators.{q}")
            extra[f"plans.{q}.plan_s"] = res["plan_s"][q]
        extra["plans.range_join_s"] = (extra["operators.q_interval_overlap_s"]
                                       - res["plan_s"]["q_interval_overlap"])
    else:
        # the four stage operators are branches of curate, so their
        # times are parts of curate_s, not additions to it
        for k in ("annotate", "minhash_lsh", "window_hashes", "tok_stats", "curate"):
            ops[f"operators.{k}_s"] = pre[f"operators.{k}"] - read
        shingles = pre["functions.shingles"] - read
        # curate() runs an eager checkpoint job, which its prefix time includes
        write_s = span_s("operators.curate") + span_s("sinks.compact_parquet") - pre["operators.curate"]
        out_bytes = span_count("sinks.compact_parquet", "output_bytes")
        out_rows = span_count("sinks.compact_parquet", "output_rows")
    m.update({k: (v, "s") for k, v in ops.items()})
    m["functions.shingles_s"] = (shingles, "s")
    m["plans.plan_s"] = (sum(res["plan_s"].values()), "s")
    m["sinks.write_s"] = (write_s, "s")
    m["sinks.output_mb"] = (out_bytes / 1e6, "MB")
    m["sinks.output_rows"] = (out_rows, "count")
    m["exec.jobs"] = (pass_count("jobs"), "count")
    m["exec.stages"] = (pass_count("stages"), "count")
    m["exec.tasks"] = (pass_count("tasks"), "count")
    m["exec.failed_tasks"] = (pass_count("failed_tasks"), "count")
    m["exec.shuffle_write_mb"] = (pass_count("shuffle_write_bytes") / 1e6, "MB")
    m["exec.shuffle_read_mb"] = (pass_count("shuffle_read_bytes") / 1e6, "MB")
    m["exec.spill_mb"] = (pass_count("spill_bytes") / 1e6, "MB")
    m["exec.busy_ratio"] = (pass_count("run_ms") / 1000 / (pass_wall * cpus), "ratio")
    m["exec.cpu_s"] = (pass_count("cpu_ns") / 1e9, "s")
    m["exec.gc_s"] = (pass_count("gc_ms") / 1000, "s")
    m["jvm.first_pass_s"] = (res["first_pass_s"], "s")
    m["trace.overhead"] = (med(res["traced_pass_s"]) / med(res["untraced_pass_s"]), "ratio")
    # event and row counts repeat exactly from pass to pass; byte counts
    # carry compression noise, so their spread is reported instead
    exact = ("jobs", "stages", "tasks", "failed_tasks", "input_rows", "output_rows")
    stable = {"counts_repeat_exactly": all(
        p["counts"][k] == traced[0]["counts"][k] for p in traced for k in exact)}
    for k in ("input_bytes", "shuffle_write_bytes", "shuffle_read_bytes", "output_bytes"):
        xs = [p["counts"][k] for p in traced]
        stable[f"{k}_rel_spread"] = (max(xs) - min(xs)) / max(xs) if max(xs) else 0.0
    return m, stable, extra


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--plant-wrong", action="store_true")
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        sys.exit("graftbench: run from the root of a graft checkout (src/main/scala/graft not found)")
    bench_start = time.perf_counter()
    cp = build.build(root, os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build")))
    work = os.path.join(root, ".bench_work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    input_dir = os.path.join(work, "input")
    cpus = len(os.sched_getaffinity(0))
    stat0 = cpu_times()

    mode = "trace" if a.trace else "run"
    jvm_args = lambda m, exp: [m, a.workload, input_dir, work, str(a.seconds), str(cpus), exp]
    setups, expected, ref, jvm = [], None, None, None
    try:
        for i in range(1 if a.trace else SETUPS - 1):
            t0 = time.perf_counter()
            input_bytes = gen.generate(a.workload, input_dir, a.seed)
            jvm = Jvm(cp, work, jvm_args("setup", "-"))
            jvm.wait_ready()
            setups.append(time.perf_counter() - t0)
            jvm.finish(60)
            if expected is None:
                t_ref = time.perf_counter()
                expected, ref = references(a.workload, input_dir, work)
                refs_s = time.perf_counter() - t_ref
                if a.plant_wrong:
                    expected, ref = plant_wrong(expected, ref)
                exp_path = os.path.join(work, "expected.tsv")
                with open(exp_path, "w") as f:
                    f.writelines(f"{k}\t{v}\n" for k, v in expected.items())
        t0 = time.perf_counter()
        if not a.trace:
            input_bytes = gen.generate(a.workload, input_dir, a.seed)
        jvm = Jvm(cp, work, jvm_args(mode, exp_path))
        jvm.wait_ready()
        if not a.trace:
            setups.append(time.perf_counter() - t0)
        jvm.finish(a.seconds + JVM_GRACE_S)
        main_jvm_s = time.perf_counter() - t0
    finally:
        if jvm is not None:
            jvm.kill()
    with open(os.path.join(work, "result.json")) as f:
        res = json.load(f)

    t_check = time.perf_counter()
    checked, problems = full_check(a.workload, os.path.join(work, "out"), ref)
    check_s = time.perf_counter() - t_check
    attempted = int(res["attempted"]) + (checked if a.workload == "warehouse_queries" else 0)
    failed = int(res["failed"]) + (len(problems) if a.workload == "warehouse_queries" else min(1, len(problems)))
    failed = min(failed, attempted)
    busy, steal, total = (x1 - x0 for x0, x1 in zip(stat0, cpu_times()))
    summary = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "error_rate": failed / attempted, "attempted": attempted, "failed": failed,
        "errors": res["errors"] + problems,
        "jvm.first_pass_s": res["first_pass_s"], "session.start_s": res["session_start_s"],
        "input_mb": input_bytes / 1e6, "cpus": cpus,
        "cpu_busy": busy / total if total else 0.0, "cpu_steal": steal / total if total else 0.0,
        "wall_s": time.perf_counter() - bench_start,
        "phases_s": {"references": refs_s, "main_jvm": main_jvm_s, "full_check": check_s},
    }
    if a.trace:
        spans = [json.loads(l) for l in open(os.path.join(work, "spans.jsonl"))]
        metrics, stable, extra = per_layer(a.workload, res, spans, input_bytes, cpus)
        summary.update(stable)
        summary.update(extra)
        summary["spans"] = os.path.relpath(os.path.join(work, "spans.jsonl"), root)
    else:
        metrics = end_to_end(res, setups, input_bytes)
        # an operation is a pass, or a query of warehouse_queries
        summary.update({
            "queries_per_s": res["ops_per_pass"] / statistics.median(res["pass_s"]),
            "query_p50_s": statistics.median(res["op_s"]), "query_p90_s": p90(res["op_s"]),
            "query_samples": len(res["op_s"]), "passes": len(res["pass_s"]),
            "setup_samples_s": setups,
            # set-up without the session start: too short to gate, so reported
            "setup_no_session_s": statistics.median(setups) - res["session_start_s"],
            "pass_s": res["pass_s"], "warmup_pass_s": res["warmup_pass_s"]})
    print("graftbench-summary " + json.dumps(summary))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    shutil.rmtree(os.path.join(work, "out"), ignore_errors=True)
    shutil.rmtree(input_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
