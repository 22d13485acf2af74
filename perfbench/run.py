#!/usr/bin/env python3
"""Wiki-pipeline benchmark: PageRank, inverted-index and txlog workloads.

Run from the repository root:

    python3 perfbench/run.py --workload pagerank_wiki --seed 1 --seconds 20 --trace 0

The script compiles the library (src/main/scala) and the benchmark
(perfbench/src) with the Scala compiler that ships with Spark, generates
the workload's input from the seed, and runs the measuring JVM. The last
line of standard output is one JSON object with the keys correct,
attempted, failed and metrics. Everything it writes goes under
.bench_build/perfbench in the repository. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
ARCHIVE = os.path.join(WORK, "classes.jsa")
WORKLOADS = ("pagerank_wiki", "index_wiki", "txlog_wiki")
# A run, build included, must end well inside this many seconds.
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 800
HEAP = "2g"

ADD_OPENS = [
    "java.base/" + p + "=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(1)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail("no Spark installation with a Scala compiler found; set SPARK_HOME")
    return jars


def sources(root):
    return sorted(glob.glob(os.path.join(root, "**", "*.scala"), recursive=True))


def scalac(jars, classpath, srcs, out, deadline):
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    argfile = out + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmpdir(),
           "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main", "-nowarn",
           "-d", out, "-cp", classpath, "@" + argfile]
    r = subprocess.run(cmd, timeout=max(1, deadline - time.time()))
    if r.returncode != 0:
        fail("compilation failed: " + out)


def build(jars, deadline):
    """Compiles library and benchmark, packs them into jars and makes the
    class-data-sharing archive, unless the inputs of all three are
    unchanged."""
    lib = sources(os.path.join(ROOT, "src", "main", "scala"))
    bench = sources(os.path.join(HERE, "src"))
    resources = os.path.join(ROOT, "src", "main", "resources")
    if not lib:
        fail("library sources src/main/scala not found")
    h = hashlib.sha256()
    for p in lib + bench + sources_of(resources) + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    key = h.hexdigest()
    marker = os.path.join(WORK, "classes.key")
    lib_out = os.path.join(WORK, "classes-lib")
    bench_out = os.path.join(WORK, "classes-bench")
    packed = [os.path.join(WORK, n + ".jar") for n in ("bench", "lib", "resources")]
    cp = os.pathsep.join(packed + [os.path.join(jars, "*")])
    if not (os.path.exists(marker) and open(marker).read() == key):
        if os.path.exists(marker):
            os.remove(marker)
        jar_cp = os.path.join(jars, "*")
        scalac(jars, jar_cp, lib, lib_out, deadline)
        scalac(jars, lib_out + os.pathsep + jar_cp, bench, bench_out, deadline)
        for src, jar in zip((bench_out, lib_out, resources), packed):
            pack(src, jar)
        train(cp, deadline)
        with open(marker, "w") as f:
            f.write(key)
    return cp, key


def sources_of(root):
    """Every regular file under root, sorted."""
    return sorted(p for p in glob.glob(os.path.join(root, "**", "*"), recursive=True)
                  if os.path.isfile(p))


def pack(src, jar):
    """Writes the files under src into the jar (class-data sharing archives
    classes from jars only, not from directories)."""
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for p in sources_of(src):
            z.write(p, os.path.relpath(p, src))


def train(cp, deadline):
    """Makes the class-data-sharing archive the benchmark's JVMs start
    from, so a run does not spend its set-up loading Spark's classes out
    of jars: one JVM runs a set-up pass of every workload and dumps the
    classes it loaded at exit."""
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    train_dir = os.path.join(WORK, "train")
    cmd = jvm(cp, archive=False)
    # after jvm()'s logging options, which it overrides for the archive's warnings
    cmd[-2:-2] = ["-XX:ArchiveClassesAtExit=" + ARCHIVE, "-Xlog:cds*=error:stderr"]
    r = subprocess.run(cmd + ["perfbench.Train", train_dir], stdout=sys.stderr,
                       timeout=max(1, deadline - time.time()))
    if r.returncode != 0 or not os.path.exists(ARCHIVE):
        fail("class-data-sharing training run failed")


def revision(key):
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "sources-" + key[:16]


def tmpdir():
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return tmp


def jvm(cp, archive=True):
    opens = [a for p in ADD_OPENS for a in ("--add-opens", p)]
    share = ["-XX:SharedArchiveFile=" + ARCHIVE] if archive else []
    # JVM warnings go to standard error, which keeps standard output for the result
    return ["java"] + share + ["-Xlog:disable", "-Xlog:all=warning:stderr",
            "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmpdir(),
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-Dspark.ui.enabled=false"] + opens + ["-cp", cp]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    start = time.time()
    os.makedirs(WORK, exist_ok=True)
    jars = spark_jars()
    cp, key = build(jars, start + BUILD_LIMIT_S)
    deadline = time.time() + RUN_LIMIT_S

    g0 = time.time()
    gen = subprocess.run(jvm(cp) + ["perfbench.Gen", a.workload, str(a.seed),
                                    os.path.join(WORK, "inputs", a.workload)],
                         stdout=sys.stderr, timeout=max(1, deadline - time.time()))
    if gen.returncode != 0:
        fail("input generation failed")
    gen_s = time.time() - g0

    cmd = jvm(cp) + ["perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
                     "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", WORK,
                     "--rev", revision(key), "--gen-s", "%.3f" % gen_s]
    try:
        r = subprocess.run(cmd, stdout=subprocess.PIPE, text=True,
                           timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        fail("run exceeded %d s" % RUN_LIMIT_S)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines or not lines[-1].startswith("{"):
        fail("measuring JVM exited with code %d" % r.returncode)
    print(lines[-1])


if __name__ == "__main__":
    main()
