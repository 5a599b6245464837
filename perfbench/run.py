#!/usr/bin/env python3
"""Workload benchmark for graft: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run compiles the program
(src/main) and the harness (perfbench/src) with the Scala compiler that
ships among the Spark jars, into .bench_build/perfbench; later runs reuse
that build while the sources are unchanged. Each run gets a fresh
directory under .bench_build/perfbench/runs (the JVM's java.io.tmpdir, the
warehouse, Spark's local dirs and stream checkpoints), deleted afterwards.

The last line of stdout is one JSON object with the keys correct,
attempted, failed and metrics. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("trickle_merge", "bulk_load_query", "corpus_dedup")
JVM_TIMEOUT_S = 170
HEAP = "2g"
# what spark-submit would pass to a JDK 17 driver
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The Spark jar directory: $SPARK_HOME/jars, else the one build.sbt
    compiles against (its unmanagedBase)."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        with open(sbt) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    die("no Spark jars: set SPARK_HOME or run from a checkout with build.sbt")


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else None
    return exe if exe and os.path.isfile(exe) else (shutil.which("java") or die("no java"))


def sources(base):
    return sorted(glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
                  + glob.glob(os.path.join(base, "**", "*.java"), recursive=True))


def build(jars):
    """Compile program and harness unless an up-to-date build exists.
    Returns the classpath."""
    app = sources(os.path.join(ROOT, "src", "main"))
    bench = sources(os.path.join(HERE, "src"))
    if not app:
        die("no program sources under src/main: run from the root of a checkout")
    if not bench:
        die("no harness sources under perfbench/src")
    h = hashlib.sha256()
    for p in app + bench:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    stamp = h.hexdigest()
    out = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "stamp")
    cp = [os.path.join(out, "app"), os.path.join(out, "bench"), os.path.join(jars, "*")]
    if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return cp
    os.makedirs(BUILD, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="classes-", dir=BUILD)
    for name, srcs, extra in (("app", app, []), ("bench", bench, [os.path.join(tmp, "app")])):
        dest = os.path.join(tmp, name)
        os.makedirs(dest)
        argfile = os.path.join(tmp, name + ".args")
        with open(argfile, "w") as f:
            f.write("\n".join(srcs))
        cmd = [java(), "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
               "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", dest]
        if extra:
            cmd += ["-cp", os.pathsep.join(extra)]
        r = subprocess.run(cmd + ["@" + argfile], stdout=sys.stderr, stderr=sys.stderr)
        if r.returncode != 0:
            shutil.rmtree(tmp, ignore_errors=True)
            die("compiling %s failed" % name)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", default=0, type=int, choices=(0, 1))
    a = ap.parse_args()

    jars = spark_jars()
    cp = build(jars)
    runs = os.path.join(BUILD, "runs")
    os.makedirs(runs, exist_ok=True)
    rundir = tempfile.mkdtemp(prefix="%s-%d-" % (a.workload, a.seed), dir=runs)
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = [java(), "-XX:-UsePerfData", "-Xmx" + HEAP, "-Xss4m", "-Djava.io.tmpdir=" + rundir,
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    if a.trace:
        traces = os.path.join(BUILD, "traces")
        os.makedirs(traces, exist_ok=True)
        cmd.append("-Dperfbench.trace.out=" + os.path.join(
            traces, "%s-seed%d.json" % (a.workload, a.seed)))
    cmd += ["-cp", os.pathsep.join(cp), "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", repr(a.seconds), "--trace", str(a.trace)]

    result = None
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr,
                            text=True, start_new_session=True, cwd=rundir)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(rundir, ignore_errors=True)
        die("run exceeded %d s" % JVM_TIMEOUT_S)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    shutil.rmtree(rundir, ignore_errors=True)
    for line in out.splitlines():
        if line.startswith("PERFBENCH_RESULT "):
            result = json.loads(line[len("PERFBENCH_RESULT "):])
        elif line.startswith("perfbench:"):
            print(line)
    if proc.returncode != 0 or result is None:
        die("the JVM exited with code %d without a result" % proc.returncode)
    print(json.dumps(result, separators=(",", ":")))


if __name__ == "__main__":
    main()
