#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <mix_sf0.1|event_tensors> --seed <n>
                             --seconds <s> --trace <0|1>

Run from the checkout root. Builds the engine and the harness (build.py),
then runs one workload in one JVM and passes its output through; the
last stdout line is the result object. Everything the run writes stays
under `.bench_build/` in the checkout. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("mix_sf0.1", "event_tensors")
RUN_TIMEOUT_S = 170
HEAP = "3g"
YOUNG = "512m"

# The JDK module opens Spark needs outside spark-submit (the engine's
# build.sbt passes the same list).
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
         "java.base/java.lang.reflect", "java.base/java.io",
         "java.base/java.net", "java.base/java.nio", "java.base/java.util",
         "java.base/java.util.concurrent",
         "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
         "java.base/sun.nio.cs", "java.base/sun.security.action",
         "java.base/sun.util.calendar"]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp = build.build()
    work = os.path.join(build.OUT, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # A fixed heap and young generation, so the resident set follows the old
    # generation's high-water mark instead of heap-sizing decisions; no
    # perf-data file, which the JVM would write to the system temp directory.
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-Xss8m", "-XX:-UsePerfData"]
    for p in OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--data", os.path.join(HERE, "data", "sf0.1"),
            "--expected", os.path.join(HERE, "expected"),
            "--work", work]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr,
                            text=True, env=env, cwd=build.ROOT)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print(f"run: {a.workload} exceeded {RUN_TIMEOUT_S} s", file=sys.stderr)
        return 3
    lines = [ln for ln in out.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(out)
        print(f"run: harness exited {proc.returncode}", file=sys.stderr)
        return proc.returncode or 4
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        print("run: malformed result line", file=sys.stderr)
        return 5
    print("\n".join(lines[:-1]))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
