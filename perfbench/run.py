#!/usr/bin/env python3
"""Build and run the graft benchmark.

    python3 perfbench/run.py --workload {ingest,scan,serve} --seed N \
        --seconds S --trace {0,1}

Run from the root of a source tree. The first run compiles `src/main` and
`perfbench/src` with the Scala compiler that ships in `$SPARK_HOME/jars`
into `.bench_build/perfbench/`; later runs reuse that build while the
sources are unchanged. The benchmark JVM prints a human report on stdout;
this script prints the result object as the last line of stdout and exits
non-zero, without a result, on a build failure, a wrong answer or a timeout.
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import glob
import hashlib
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
RUN_TIMEOUT_S = 170
HEAP = "3g"

# Spark 4 on JDK 17 outside spark-submit needs these (the same list as the
# root build's javaOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def java_bin():
    home = os.environ.get("JAVA_HOME")
    if home and os.path.exists(os.path.join(home, "bin", "java")):
        return os.path.join(home, "bin", "java")
    found = shutil.which("java")
    if not found:
        fail("no java on PATH")
    return found


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        fail("SPARK_HOME is not set; the build compiles against $SPARK_HOME/jars")
    jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
    if not jars:
        fail(f"no jars under {home}/jars")
    return jars


def source_files():
    main = os.path.join(ROOT, "src", "main")
    scala = sorted(glob.glob(os.path.join(main, "scala", "**", "*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    resources = sorted(p for p in glob.glob(os.path.join(main, "resources", "**"), recursive=True)
                       if os.path.isfile(p))
    if not scala:
        fail("no program sources under src/main/scala (run from the root of a source tree)")
    if not bench:
        fail("no benchmark sources under perfbench/src")
    return scala, bench, resources


def stamp_of(files, jars):
    h = hashlib.sha256()
    for p in files:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    for j in jars:
        h.update(os.path.basename(j).encode())
    return h.hexdigest()


def build(jars):
    """Compile once per source stamp; returns (classes dir, stamp)."""
    scala, bench, resources = source_files()
    stamp = stamp_of(scala + bench + resources, jars)
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return classes, stamp
    os.makedirs(BUILD, exist_ok=True)
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.pathsep.join(jars)
    args_file = os.path.join(BUILD, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(scala + bench) + "\n")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as lf:
        rc = subprocess.call(
            [java_bin(), "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
             "-nowarn", "-d", tmp, "-classpath", cp, "@" + args_file],
            stdout=lf, stderr=subprocess.STDOUT)
    if rc != 0:
        with open(log) as lf:
            sys.stderr.write(lf.read()[-4000:])
        fail(f"build failed (exit {rc}); log in {log}", 1)
    res_root = os.path.join(ROOT, "src", "main", "resources")
    for p in resources:
        dst = os.path.join(tmp, os.path.relpath(p, res_root))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n")
    return classes, stamp


def commit_id(stamp):
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        if out.returncode == 0 and out.stdout.strip():
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "src-" + stamp[:16]


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=["ingest", "scan", "serve"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")

    jars = spark_jars()
    classes, stamp = build(jars)

    work = os.path.join(BUILD, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result = os.path.join(work, "result.json")
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = [java_bin(), "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "-cp", os.pathsep.join([classes] + jars),
        "graft.perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--work", work, "--result", result,
        "--commit", commit_id(stamp),
        "--out", os.path.join(BUILD, "out", stamp[:16]),
    ]
    proc = subprocess.Popen(cmd, cwd=work, start_new_session=True)
    try:
        rc = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 3)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        raise
    line = None
    if rc == 0 and os.path.exists(result):
        with open(result) as f:
            line = f.read().strip()
    shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not line:
        fail(f"benchmark JVM failed (exit {rc})", rc or 1)
    sys.stdout.flush()
    print(line, flush=True)


if __name__ == "__main__":
    main()
