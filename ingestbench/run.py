"""Ingest-to-commit benchmark for graft.

    python3 ingestbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1> [--smoke]

Run from the root of a checkout. Builds the library and the benchmark from
source (see build.py), runs one workload in a fresh JVM on a local Spark
session with one core per available processor, and prints one JSON object as
the last line of stdout: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones, with --trace 1 the per-layer
ones. The full record of every run (all metrics, spans, per-call counts,
the effective Spark conf, the input shape) goes to a new file under
.bench_build/results/. See README.md for workloads and metrics.
"""
import argparse
import json
import os
import pathlib
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("import_mor_rw", "cdc_replay_cow", "curate_dedup")
RUN_TIMEOUT_S = 170
HEAP = "3g"

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", required=True, choices=("0", "1"))
    p.add_argument("--smoke", action="store_true", help="tiny inputs, for the benchmark's tests")
    return p.parse_args(argv)


def main(argv):
    a = parse_args(argv)
    try:
        classes = build.build()
    except build.BuildError as e:
        print(f"[graftbench] build failed: {e}", file=sys.stderr)
        return 2

    work = build.BUILD / "work" / f"{a.workload}-{os.getpid()}-{int(time.time() * 1000)}"
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-Xss16m",
           f"-Djava.io.tmpdir={tmp}"]
    for o in JDK17_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", build.classpath(classes), "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace,
            "--work", str(work), "--out", str(build.BUILD / "results")]
    if a.smoke:
        cmd.append("--smoke")
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(tmp))
    for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_MASTER", "SPARK_MASTER", "JAVA_TOOL_OPTIONS"):
        env.pop(k, None)

    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE, text=True)

    def stop(signum, _frame):
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print(f"[graftbench] run exceeded {RUN_TIMEOUT_S}s and was stopped", file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)

    lines = out.splitlines()
    results = [l for l in lines if l.startswith('{"correct"')]
    print("\n".join(l for l in lines if not l.startswith('{"correct"')), flush=True)
    if proc.returncode != 0 or not results:
        print(f"[graftbench] benchmark JVM exited with {proc.returncode} and no result",
              file=sys.stderr)
        return 1
    json.loads(results[-1])  # a malformed line fails here rather than at the reader
    print(results[-1], flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
