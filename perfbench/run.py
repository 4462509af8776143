#!/usr/bin/env python3
"""Benchmark launcher.

    python3 perfbench/run.py --workload <lake_query|index_maintain>
        --seed <n> --seconds <s> --trace <0|1>

Builds the program and the harness if the checkout changed (build.py),
runs one workload in a fresh JVM on Spark local[nproc] with a fresh
scratch root, compares the rows the run dumped against DuckDB running
the program's own oracle SQL over the same lake, and prints as its last
line one JSON object: `correct`, `attempted`, `failed` and `metrics`
(the end-to-end metrics of BENCHMARK.json with --trace 0, the per-layer
ones with --trace 1). The line before it is the run's full record (host
conditions, per-op-type figures, failures); with --trace 1 the spans and
per-layer self times are written to perfbench/.records/.

Any failed op or mismatch makes the exit code non-zero.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

CHECK = os.path.join(os.path.dirname(HERE), "tools", "check.py")
LAKES = os.path.join(HERE, "lakes")
# the lake each workload reads, measured and in the benchmark's own tests:
# the project's test lakes; index_maintain reads only the 2,000 sf0.1
# embeddings
WORKLOADS = {
    "lake_query": ("sf0.01", "sf0.001"),
    "index_maintain": ("sf0.1", "sf0.001"),
}
JVM_TIMEOUT_S = 170


def spec():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def cpu_jiffies():
    """The host's CPU time counters from /proc/stat (user, nice, system,
    idle, iowait, irq, softirq, steal, ...), or None."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def steal_share(before, after):
    """Share of CPU time the hypervisor gave to other guests between two
    readings: a run on a contended host shows it in its own record."""
    if not before or not after or len(before) < 8:
        return None
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else None


def compare(out, lake_dir, corrupt=False):
    """Run tools/check.py over the rows the JVM dumped: each result against
    DuckDB running its oracle SQL over the same lake. Returns the failure
    lines. `corrupt` drops one reference row of every entry, so the
    compare must fail (the benchmark's own test of itself)."""
    oracle_file = os.path.join(out, "oracle_sql.json")
    if not os.path.exists(oracle_file):
        return []
    if corrupt:
        with open(oracle_file) as f:
            oracle = json.load(f)
        with open(oracle_file, "w") as f:
            json.dump({n: f"SELECT * FROM ({sql}) t OFFSET 1" for n, sql in oracle.items()}, f)
    p = subprocess.run([sys.executable, CHECK, out, lake_dir],
                       capture_output=True, text=True, timeout=120)
    fails = [line for line in p.stdout.splitlines() if line.startswith("FAIL")]
    if p.returncode != 0 and not fails:
        fails.append(f"tools/check.py exit {p.returncode}: {p.stderr[-500:]}")
    return fails


def run(args):
    paths = build.build()
    measured, tiny = WORKLOADS[args.workload]
    lake_dir = os.path.join(LAKES, tiny if args.tiny else measured)
    stamp = f"{args.workload}-{args.seed}-{os.getpid()}-{time.time_ns()}"
    run_dir = os.path.join(HERE, ".runs", stamp)
    out = os.path.join(run_dir, "out")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(out)
    os.makedirs(tmp)
    try:
        env = dict(os.environ, SPARK_GRAFT_TMP=os.path.join(run_dir, "scratch"))
        cmd = build.jvm_args(paths["jars"], [paths["harness"], paths["program"]], tmp=tmp) + [
            "graft.perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--lake", lake_dir, "--out", out]
        with open(os.path.join(run_dir, "jvm.log"), "w") as log:
            jiffies = cpu_jiffies()
            proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=tmp, env=env)
            try:
                rc = proc.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                rc = "timeout"
        result_file = os.path.join(out, "result.json")
        if rc != 0 or not os.path.exists(result_file):
            tail = open(os.path.join(run_dir, "jvm.log")).read()[-4000:]
            sys.stderr.write(f"{args.workload}: JVM exit {rc}\n{tail}\n")
            return 1
        result = json.load(open(result_file))
        result["host"]["cpu_steal_share"] = steal_share(jiffies, cpu_jiffies())
        failures = result["failures"] + compare(out, lake_dir, corrupt=args.corrupt_reference)
        attempted = result["attempted"]
        record = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "lake": os.path.relpath(lake_dir, HERE),
            "host": result["host"], "metrics": result["metrics"],
            "details": result["details"], "op_p50_s": result["op_p50_s"],
            "failures": failures,
            "fail_ratio": len(failures) / attempted,
        }
        if args.trace:
            record["per_layer"] = result["per_layer"]
            record["traced_details"] = result["traced_details"]
            trace = json.load(open(os.path.join(out, "trace.json")))
            trace["record"] = record
            records = os.path.join(HERE, ".records")
            os.makedirs(records, exist_ok=True)
            with open(os.path.join(records, f"trace-{args.workload}-{args.seed}.json"), "w") as f:
                json.dump(trace, f)
        s = spec()
        wanted = s["per_layer"] if args.trace else s["end_to_end"]
        source = result["per_layer"] if args.trace else result["metrics"]
        metrics = {m["name"]: {"value": source[m["name"]], "unit": m["unit"]} for m in wanted}
        print(json.dumps({"record": record}))
        print(json.dumps({"correct": not failures, "attempted": attempted,
                          "failed": len(failures), "metrics": metrics}))
        sys.stdout.flush()
        return 0 if not failures else 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="run on the sf0.001 lake (the benchmark's own tests)")
    ap.add_argument("--corrupt-reference", action="store_true",
                    help="drop one reference row, so the compare must fail")
    args = ap.parse_args()
    try:
        return run(args)
    except build.BuildError as e:
        sys.stderr.write(f"build failed: {e}\n")
        return 2


if __name__ == "__main__":
    sys.exit(main())
