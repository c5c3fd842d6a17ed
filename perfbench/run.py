"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 10 --trace 0

Builds the program if its sources changed (build.py), generates the seeded
inputs (inputs.py), computes the expected query digests with DuckDB
(oracle.py) — all before the program starts — then runs the benchmark JVM
(graft.perfbench.Main) and prints, as the last line of standard output,
one JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones of BENCHMARK.json, with
--trace 1 the per-layer ones. The line before it holds the run conditions
and any failed ops. Exit code 0 only when the run completed.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import inputs  # noqa: E402
import oracle  # noqa: E402

BENCH = build.BENCH
WORK = os.path.join(BENCH, ".work")
DEADLINE_S = 170
def cores():
    return max(1, min(4, len(os.sched_getaffinity(0))))


def commit():
    try:
        return subprocess.run(["git", "-C", build.ROOT, "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def load_benchmark():
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def metric_block(raw, specs):
    """The metrics of `specs`, in order, with their units. Per-layer
    metrics of layers a workload does not run read 0; a name the program
    reports that BENCHMARK.json does not list is an error."""
    names = [m["name"] for m in specs]
    unknown = sorted(set(raw) - set(names))
    if unknown:
        raise SystemExit(f"run: metrics not in BENCHMARK.json: {unknown}")
    return {m["name"]: {"value": raw.get(m["name"], 0.0), "unit": m["unit"]} for m in specs}


def main(argv=None):
    t0 = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--fail-op", type=int, default=-1,
                    help="force the op with this index to throw (tests only)")
    a = ap.parse_args(argv)
    bench = load_benchmark()
    if a.workload not in [w["name"] for w in bench["workloads"]]:
        raise SystemExit(f"run: unknown workload {a.workload}")

    os.makedirs(os.path.join(WORK, "logs"), exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    log_path = os.path.join(WORK, "logs", tag + ".log")
    phases = {}
    with open(log_path, "w") as log:
        jar, oracle_sql, archive, stamp = build.build(log)
        phases["build_s"] = time.time() - t0
        in_dir = os.path.join(WORK, "inputs", f"{a.workload}-{a.seed}")
        spec = inputs.generate(in_dir, a.workload, a.seed)
        phases["inputs_s"] = time.time() - t0 - phases["build_s"]
        if "queries" in spec:
            exp = oracle.expected_cached(os.path.join(in_dir, f"expected-{stamp[:16]}.json"),
                                         os.path.join(in_dir, spec["tables"]),
                                         spec["queries"], oracle_sql)
            with open(os.path.join(in_dir, "expected.json"), "w") as f:
                json.dump(exp, f)
        phases["oracle_s"] = time.time() - t0 - phases["build_s"] - phases["inputs_s"]
        run_dir = os.path.join(WORK, "run")
        shutil.rmtree(run_dir, ignore_errors=True)
        os.makedirs(os.path.join(run_dir, "tmp"))
        out = os.path.join(run_dir, "result.json")
        trace_out = os.path.join(WORK, "traces", tag + ".jsonl")
        cmd = build.spark_java(
            jar, os.path.join(run_dir, "tmp"), "graft.perfbench.Main",
            ["--workload", a.workload, "--inputs", in_dir, "--work", run_dir,
             "--out", out, "--seconds", str(a.seconds), "--trace", str(a.trace),
             "--cores", str(cores()), "--fail-op", str(a.fail_op),
             "--trace-out", trace_out, "--run-id", f"seed{a.seed}"],
            [f"-XX:SharedArchiveFile={archive}"])
        log.flush()
        try:
            # a run must end within DEADLINE_S; a first run may add its build
            subprocess.run(cmd, stdout=log, stderr=log, check=True,
                           timeout=max(10, DEADLINE_S - (time.time() - t0 - phases["build_s"])))
        except (subprocess.CalledProcessError, subprocess.TimeoutExpired) as e:
            raise SystemExit(f"run: benchmark JVM failed ({e}); log: {log_path}")
    with open(out) as f:
        res = json.load(f)
    shutil.rmtree(run_dir, ignore_errors=True)

    specs = bench["per_layer"] if a.trace else bench["end_to_end"]
    metrics = metric_block(res["metrics"], specs)
    cond = dict(res["conditions"], seed=a.seed, workload=a.workload, trace=a.trace,
                commit=commit(), source_sha256=stamp, run_s=round(time.time() - t0, 3),
                **{k: round(v, 3) for k, v in phases.items()},
                input_items_per_op=spec.get("items_per_op"), log=log_path)
    if a.trace:
        cond["trace_file"] = trace_out
    print(json.dumps({"conditions": cond, "failures": res["failures"]}))
    print(json.dumps({"correct": res["failed"] == 0 and res["attempted"] > 0,
                      "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
