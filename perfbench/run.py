"""Benchmark entry point. Run from the root of a checkout:

    python3 perfbench/run.py --workload corpus_pipeline --seed 1 --seconds 10 --trace 0

The inputs are the sf0.1 tables in `perfbench/sf0.1` (byte-for-byte
copies of the engine's sf0.1 test data; only the tables the workloads in
BENCHMARK.json read). `--data DIR` points a by-hand run at another copy
of the full set, which `graph_fixpoint` needs. `--record` stores the
run's query digests as the expected ones; use it only when the inputs
or a query's intended output change.

Builds the engine and the harness if needed (see build.py), runs one
workload of workloads.json in a fresh JVM, checks every output, and
prints one JSON line as the last line of stdout: `correct`, `attempted`,
`failed` and the metrics BENCHMARK.json names, end-to-end with
`--trace 0`, per-layer with `--trace 1`. Exits non-zero without a result
when it cannot build or run.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import bench  # noqa: E402
import build  # noqa: E402

RUN_TIMEOUT_S = 170


def load(path):
    with open(path) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", default=os.path.join(build.HERE, "sf0.1"),
                    help="directory of the sf0.1 parquet tables")
    ap.add_argument("--record", action="store_true",
                    help="store this run's query digests as the expected ones")
    a = ap.parse_args()

    root = os.getcwd()
    spec = load(os.path.join(root, "BENCHMARK.json"))
    workloads = load(os.path.join(build.HERE, "workloads.json"))["workloads"]
    digests = load(os.path.join(build.HERE, "expected_digests.json"))
    if a.workload not in workloads:
        sys.exit(f"unknown workload {a.workload}")

    data = os.path.abspath(a.data)
    try:
        classes = build.compile_classes(root)
    except (build.BuildError, OSError, ValueError) as e:
        sys.exit(f"build failed: {e}")
    started = time.monotonic()

    run_dir = os.path.join(build.build_dir(root), "runs", f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    out = os.path.join(run_dir, "result.json")
    wl = workloads[a.workload]
    params = ["--passes", str(max(1, round(a.seconds / wl["pass_seconds"])))]
    for k, v in wl["params"].items():
        params += [f"--{k}", ",".join(v) if isinstance(v, list) else str(v)]
    args = ["--workload", a.workload, "--seed", str(a.seed), "--trace", str(a.trace),
            "--data", data, "--run-dir", run_dir, "--out", out, *params]
    log = run_dir + ".log"
    try:
        rc = build.jvm(root, classes, args, log, RUN_TIMEOUT_S, os.path.join(run_dir, "tmp"))
    except subprocess.TimeoutExpired:
        sys.exit(f"run exceeded {RUN_TIMEOUT_S} s; see {log}")
    if rc != 0 or not os.path.exists(out):
        sys.exit(f"harness exited {rc}; see {log}")
    raw = load(out)
    # keep the raw result and spans, drop shuffle files, topics and indexes
    for name in os.listdir(run_dir):
        if not (name == "result.json" or name.endswith(".spans.jsonl")):
            path = os.path.join(run_dir, name)
            shutil.rmtree(path) if os.path.isdir(path) else os.remove(path)

    if a.record:
        digests = bench.recorded_digests(digests, raw, workloads)
        with open(os.path.join(build.HERE, "expected_digests.json"), "w") as f:
            json.dump(digests, f, indent=2)
            f.write("\n")
    metrics = spec["per_layer"] if a.trace else spec["end_to_end"]
    res, failures = bench.result(raw, digests, metrics, a.trace == 1)
    for name, reason in failures[:20]:
        print(f"FAILED {name}: {reason}")
    measured = sum(len(ops) for ops in bench.good_ops(raw, digests, a.trace == 1).values())
    print(f"{a.workload} seed={a.seed} trace={a.trace} cpus={raw['cpus']} "
          f"passes={params[1]} measured_ops={measured} all_ops={len(raw['ops'])} "
          f"wall={time.monotonic() - started:.1f}s raw={out}")
    print(json.dumps(res))


if __name__ == "__main__":
    main()
