#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine and the benchmark.

The engine's sources (src/main/scala) and the benchmark's own sources
(perfbench/scala, perfbench/test) are compiled with the Scala compiler
that ships among the Spark jars, straight into `.bench_build/perfbench/`
under the checkout root. sbt is not used: it would write into the user's
home directory and add half a minute of start-up to every run.

Each output directory carries a stamp (a hash of its inputs), so an
unchanged tree is not recompiled.

    python3 perfbench/build.py          # prints the classpath to run with
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build", "perfbench")


def spark_jars():
    """The Spark jars: $SPARK_HOME/jars, else the directory the engine's
    own build.sbt compiles against (its `unmanagedBase`)."""
    jars = None
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    elif os.path.exists(os.path.join(ROOT, "build.sbt")):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                      open(os.path.join(ROOT, "build.sbt")).read())
        jars = m and m.group(1)
    if not jars or not os.path.isdir(jars):
        raise SystemExit("build: no Spark jars found; set SPARK_HOME")
    return sorted(os.path.join(jars, j)
                  for j in os.listdir(jars) if j.endswith(".jar"))


def scala_sources(*dirs):
    out = []
    for d in dirs:
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def stamp_of(sources, extra=""):
    h = hashlib.sha256(extra.encode())
    for s in sources:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def compile_to(dest, sources, classpath, extra_stamp=""):
    if not sources:
        raise SystemExit(f"build: no Scala sources for {dest}")
    stamp = stamp_of(sources, extra_stamp)
    stamp_file = os.path.join(dest, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    compiler = [j for j in classpath if os.path.basename(j).startswith(
        ("scala-compiler", "scala-library", "scala-reflect"))]
    argfile = dest + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(sources))
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={OUT}",
           "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main",
           "-nowarn", "-d", dest, "-classpath", os.pathsep.join(classpath),
           "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    os.remove(argfile)
    if r.returncode != 0:
        shutil.rmtree(dest, ignore_errors=True)
        raise SystemExit(f"build: scalac failed for {dest}")
    with open(stamp_file, "w") as f:
        f.write(stamp)


def build():
    """Compile what changed; return the runtime classpath (list of paths)."""
    jars = spark_jars()
    main_src = scala_sources(os.path.join(ROOT, "src", "main", "scala"))
    main_out = os.path.join(OUT, "main")
    compile_to(main_out, main_src, jars)
    bench_src = scala_sources(os.path.join(ROOT, "perfbench", "scala"),
                              os.path.join(ROOT, "perfbench", "test"))
    bench_out = os.path.join(OUT, "bench")
    compile_to(bench_out, bench_src, jars + [main_out],
               extra_stamp=open(os.path.join(main_out, ".stamp")).read())
    return [bench_out, main_out] + jars


if __name__ == "__main__":
    print(os.pathsep.join(build()))
