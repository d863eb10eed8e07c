#!/usr/bin/env python3
"""The repository benchmark: one command, three workloads.

    python3 perfbench/run.py --workload <cdc_backlog|cdc_live|batch_ops>
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It compiles the engine and the benchmark's JVM
side (skipped when nothing changed), makes the seeded inputs, launches the
JVM straight from the compiled classes, checks every output, and prints one
JSON record as its last line: `correct`, `attempted`, `failed` and the
end-to-end metrics (`--trace 0`) or the per-layer metrics (`--trace 1`)
named in BENCHMARK.json. See perfbench/README.md.
"""
import argparse
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("cdc_backlog", "cdc_live", "batch_ops")
BUILD_DIR = os.path.join(ROOT, ".bench_build")
# batch_ops input scale (the reference test data's sf units)
BATCH_SF = 0.02
JVM_TIMEOUT_S = 165
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/jdk.internal.ref",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(classpath, mode, args, scratch, log):
    cmd = (["java", "-Xmx3g", "-XX:+IgnoreUnrecognizedVMOptions", "-XX:-UsePerfData"]
           + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["--enable-native-access=ALL-UNNAMED",
              "-Djdk.reflect.useDirectMethodHandle=false",
              "-Dio.netty.tryReflectionSetAccessible=true",
              f"-Djava.io.tmpdir={scratch}/tmp",
              f"-Dderby.stream.error.file={scratch}/derby.log",
              "-cp", classpath, "perfbench.Main", mode] + args)
    os.makedirs(f"{scratch}/tmp", exist_ok=True)
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"the JVM did not finish within {JVM_TIMEOUT_S} s")
    lines = [ln for ln in out.splitlines() if ln.startswith("PERFBENCH_RESULT ")]
    if proc.returncode != 0 or not lines:
        fail(f"the JVM exited with code {proc.returncode} and no result")
    return json.loads(lines[-1][len("PERFBENCH_RESULT "):])


def oracle_failures(data, dump, log):
    """Queries whose dumped output disagrees with the DuckDB oracle, as the
    repository's own compare tool judges them."""
    tool = os.path.join(ROOT, "tools", "compare.py")
    res = subprocess.run([sys.executable, tool, data, dump], capture_output=True, text=True)
    log.write(res.stdout + res.stderr)
    ran = set(json.load(open(os.path.join(dump, "ran_queries.json"))))
    ok = set(re.findall(r"^OK +(\S+):", res.stdout, re.M))
    return ran - ok


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--plant", choices=("none", "changes", "drop", "row"), default="none",
                    help="self-test only: plant one fault the checks must catch")
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail("the engine's sources are not here; run from the repository root")
    spec = json.load(open(spec_path))
    wanted = spec["per_layer" if a.trace else "end_to_end"]

    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(os.path.join(BUILD_DIR, "build.log"), "w") as blog:
        try:
            classpath = build.build(BUILD_DIR, blog)
        except subprocess.CalledProcessError:
            fail("the build failed; see .bench_build/build.log")

    setup_start = time.time()
    scratch = os.path.join(BUILD_DIR, f"run-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    data = os.path.join(scratch, "data")
    batch = a.workload == "batch_ops" or a.trace
    if batch:
        import datagen  # numpy and pyarrow load only when batch inputs are made
        datagen.write(data, a.seed, BATCH_SF)
    mode = "trace" if a.trace else a.workload
    log_path = os.path.join(BUILD_DIR, f"{mode}.log")
    try:
        with open(log_path, "w") as log:
            res = run_jvm(classpath, mode, [str(a.seed), str(a.seconds), str(cpus()), scratch,
                                            data, a.plant], scratch, log)
            log.write("PERFBENCH_RESULT " + json.dumps(res) + "\n")
            failed_queries = set(res["batch_failed"])
            bad_oracle = (oracle_failures(data, os.path.join(scratch, "check"), log)
                          if batch else set())
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    metrics = dict(res["metrics"])
    metrics["setup_s"] = res["first_unit_ms"] / 1000.0 - setup_start
    out = {}
    for m in wanted:
        if m["name"] not in metrics:
            fail(f"metric {m['name']} was not measured (log: {log_path})")
        out[m["name"]] = {"value": metrics[m["name"]], "unit": m["unit"]}
    failed = res["failed"] + len(bad_oracle - failed_queries)
    attempted = res["attempted"]
    if bad_oracle:
        print(f"perfbench: oracle mismatch: {sorted(bad_oracle)}", file=sys.stderr)
    if not a.trace:
        n = {k.split(".", 1)[1]: int(v) for k, v in metrics.items() if k.startswith("samples.")}
        print(f"perfbench: {a.workload} sample counts: throughput_per_s "
              f"{n.get('throughput_per_s')}, latency_p50/p99_ms {n.get('latency_ms')}, "
              f"setup_s 1", file=sys.stderr)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": out}))


if __name__ == "__main__":
    main()
