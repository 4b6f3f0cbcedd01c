"""Pipeline benchmark entry point (see perfbench/README.md).

    python3 perfbench/run.py --workload fit_skewed --seed 1 --seconds 20 --trace 0

Builds the library and the benchmark from source (perfbench/build.py), runs
one workload in a fresh JVM with a fixed heap, and prints the result JSON as
the last line of standard output. Exits non-zero, without a result line, when
the build or the run fails; prints the result and exits 1 when a correctness
check fails.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("fit_skewed", "join_hotspot")
HEAP = "3g"
RUN_TIMEOUT_S = 170
# Scratch space of a run (result store, grid, Spark local dirs), removed after it.
WORK_DIR = "perfbench_work"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classes = build.build()
    jars = os.path.join(build.spark_jars(), "*")
    work = os.path.abspath(os.path.join(WORK_DIR, str(os.getpid())))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    result_file = os.path.join(work, "result.json")
    log4j = os.path.abspath("perfbench/log4j2.properties")
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}", f"-Dlog4j2.configurationFile={log4j}",
            "--add-modules=jdk.incubator.vector"]
           + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-cp", f"{classes}:{jars}", "perfbench.Main",
              a.workload, str(a.seed), str(a.seconds), str(a.trace), work, result_file])
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, start_new_session=True)

    def clean():
        shutil.rmtree(work, ignore_errors=True)
        if os.path.isdir(WORK_DIR) and not os.listdir(WORK_DIR):
            os.rmdir(WORK_DIR)

    def stop(why):
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        clean()
        raise SystemExit(f"perfbench: {a.workload} {why}")

    # the JVM runs in its own session: take it down with this process
    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, lambda n, _f: stop(f"stopped by signal {n}"))
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        stop(f"did not finish in {RUN_TIMEOUT_S} s")
    try:
        with open(result_file) as fh:
            out = json.load(fh)
    except (OSError, ValueError):
        out = None
    clean()
    if out is None:
        raise SystemExit(f"perfbench: {a.workload} exited {code} without a result")
    print("host " + json.dumps(out["host"], sort_keys=True))
    for c in out["checks"]:
        print("check %-5s %s" % ("ok" if c["ok"] else "FAIL", c["name"]) + ("" if c["ok"] else ": " + c["detail"]))
    result = {k: out[k] for k in ("correct", "attempted", "failed", "metrics")}
    print(json.dumps(result), flush=True)
    sys.exit(0 if code == 0 and result["correct"] else 1)


if __name__ == "__main__":
    main()
