"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the program from the checkout's sources (see build.py), runs one
workload in one JVM with one local[N] Spark session (N = usable cores), and
prints every metric by name with its unit. The last line of standard output
is one JSON object: end-to-end metrics with --trace 0, per-layer metrics with
--trace 1. Everything the run writes stays inside the checkout.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ["month_e2e", "dedup_corpus"]
# A run may take 180 s; the rest is for start-up and the report.
JVM_TIMEOUT_S = 172
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def run_jvm(args, classpath, work):
    cpus = len(os.sched_getaffinity(0))
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cpus", str(cpus),
            "--work", work, "--out", out]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = None
    if code != 0 or not os.path.exists(out):
        with open(log_path) as log:
            tail = log.read()[-4000:]
        why = "timed out" if code is None else f"exited {code}"
        raise RuntimeError(f"benchmark JVM {why}:\n{tail}")
    with open(out) as fh:
        return json.load(fh)


def report(args, raw, root):
    attempted, failed = raw["attempted"], raw["failed"]
    err = stats.error_rate(attempted, failed)
    print(f"workload {raw['workload']}  seed {raw['seed']}  cores {raw['cpus']}  "
          f"rows {raw['rows']}  iterations {len(raw['untraced'])} untraced, "
          f"{len(raw['traced'])} traced")
    print("set-up: session {:.2f} s, set-ups {} s".format(
        raw["session_s"], ", ".join(f"{x:.2f}" for x in raw["prepare_s"])))
    print("iteration wall s: untraced {}; traced {}".format(
        ", ".join(f"{s['wall_s']:.3f}" for s in raw["untraced"]),
        ", ".join(f"{s['wall_s']:.3f}" for s in raw["traced"]) or "-"))
    for e in raw["errors"]:
        print(f"FAILED {e}")
    metrics = {}
    if args.trace == 0:
        print(f"{'metric':<16} {'unit':<8} {'median':>14} {'q1':>14} {'q3':>14} {'n':>3}")
        e2e = stats.end_to_end(raw)
        for name, unit in stats.END_TO_END:
            med, q1, q3, n = e2e[name]
            print(f"{name:<16} {unit:<8} {med:>14.6g} {q1:>14.6g} {q3:>14.6g} {n:>3}")
            metrics[name] = {"value": med, "unit": unit}
        print(f"{'error_rate':<16} {'ratio':<8} {err:>14.6g}  ({failed} of {attempted} operations)")
    else:
        values = stats.per_layer(raw)
        for name, unit in stats.per_layer_names():
            print(f"{name:<44} {unit:<8} {values[name]:>16.6g}")
            metrics[name] = {"value": values[name], "unit": unit}
        trace_dir = os.path.join(root, ".bench_out")
        os.makedirs(trace_dir, exist_ok=True)
        path = os.path.join(trace_dir, f"trace-{args.workload}-seed{args.seed}.json")
        with open(path, "w") as fh:
            json.dump({"spans": raw["spans"], "counts": raw["counts"]}, fh)
        print(f"spans written to {os.path.relpath(path, root)}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


def main(argv):
    args = parse_args(argv)
    try:
        classpath = build.build()
    except build.BuildError as e:
        sys.exit(f"perfbench: {e}")
    root = build.ROOT
    work = os.path.join(root, ".bench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        raw = run_jvm(args, classpath, work)
    except RuntimeError as e:
        sys.exit(f"perfbench: {e}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    report(args, raw, root)


if __name__ == "__main__":
    main(sys.argv[1:])
