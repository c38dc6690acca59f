#!/usr/bin/env python3
"""Benchmark command, run from the repository root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark if their sources changed (build.py),
then runs one workload in one JVM with a local Spark session and prints
its result as the last line of standard output. See README.md.
"""
import os
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("match_batch", "window_requests", "corpus_curation")
TIMEOUT_S = 170
HEAP = "3g"

# Spark on JDK 17 outside spark-submit needs these module opens.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main(argv):
    opts = dict(zip(argv[0::2], argv[1::2]))
    if opts.get("--workload") not in WORKLOADS:
        raise SystemExit(f"usage: run.py --workload {{{','.join(WORKLOADS)}}} "
                         "[--seed n] [--seconds s] [--trace 0|1]")
    classes, jars = build.build()
    bench = os.path.relpath(build.BENCH, build.ROOT)
    tmp = os.path.join(build.BENCH, ".work", "tmp")
    os.makedirs(tmp, exist_ok=True)
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", f"-Xmx{HEAP}", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           f"-Dperfbench.dir={bench}", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(jars, "*"), "perfbench.Main"] + argv
    proc = subprocess.Popen(cmd, cwd=build.ROOT)
    try:
        return proc.wait(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print(f"perfbench: run exceeded {TIMEOUT_S} s", file=sys.stderr)
        return 124
    except BaseException:
        proc.kill()
        proc.wait()
        raise


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
