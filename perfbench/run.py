#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload {ingest,retrieval,graph} --seed N \
        --seconds S --trace {0,1} [--cpus N]

Builds the engine and the benchmark from source first (perfbench/build.py;
cached under .bench_build/ in the checkout). Every file the run writes
stays under .bench_build/perfbench/ and its per-run work directory is
removed at exit. A traced run also writes its spans to
.bench_build/perfbench/spans/<workload>-<seed>.jsonl.

Exit status is non-zero, with no result line, when the build or the run
fails.
"""
import argparse
import os
import shutil
import subprocess
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

# Spark 4 on JDK 17 outside spark-submit needs these (the launcher's
# JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
RUN_TIMEOUT_S = 170


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["ingest", "retrieval", "graph"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cpus", type=int, default=os.cpu_count())
    a = ap.parse_args()

    classpath = build.build()
    os.makedirs(build.OUT, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"run-{a.workload}-", dir=build.OUT)
    spans = os.path.join(build.OUT, "spans", f"{a.workload}-{a.seed}.jsonl")
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    log4j = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "log4j2.properties")
    cmd = ["java", "-Xms1g", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}",
           f"-Dlog4j2.configurationFile={log4j}",
           *opens, "-cp", os.pathsep.join(classpath), "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--cpus", str(a.cpus), "--work", work, "--spans", spans]
    try:
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=sys.stderr,
                           text=True, timeout=RUN_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stderr.write(r.stdout)
        sys.exit(f"run: benchmark exited {r.returncode} without a result")
    sys.stdout.write(r.stdout)


if __name__ == "__main__":
    main()
