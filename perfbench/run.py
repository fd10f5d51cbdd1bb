"""NND graph benchmark: build and update workloads on local[nproc].

    python3 perfbench/run.py --workload build --seed 1 --seconds 10 --trace 0

Builds the engine from source (see build.py), then runs one workload in a
fresh JVM. The JVM prints a report and, as its last stdout line, one JSON
object {"correct", "attempted", "failed", "metrics"}. The exit code is 0
only when every output passed the correctness gate. See README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

import build

HEAP = "2g"
# A run must end within 180 s; leave room for JVM exit and clean-up.
RUN_TIMEOUT_S = 165
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["build", "update"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    try:
        classes, stamp, jars = build.build()
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        print("[perfbench] build failed: %s" % e, file=sys.stderr)
        return 2

    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(build.OUT, "tmp-%d" % os.getpid())
    state = os.path.join(build.OUT, "state-" + stamp)
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(state, exist_ok=True)
    cmd = (["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-Xss8m", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + tmp, "-cp", classes + os.pathsep + os.path.join(jars, "*")]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["graft.perfbench.PerfBench",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--cores", str(cores), "--tmp", tmp, "--state", state])
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print("[perfbench] run exceeded %d s" % RUN_TIMEOUT_S, file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    lines = out.rstrip("\n").split("\n")
    try:
        result = json.loads(lines[-1])
        ok = set(result) == {"correct", "attempted", "failed", "metrics"}
    except (ValueError, TypeError):
        ok = False
    if not ok:
        sys.stderr.write(out)
        print("[perfbench] no result line (exit code %d)" % proc.returncode,
              file=sys.stderr)
        return proc.returncode or 1
    sys.stdout.write(out)
    return proc.returncode


if __name__ == "__main__":
    sys.exit(main())
