#!/usr/bin/env python3
"""Run one benchmark workload of the graft SCD engine and print its result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest
    python3 perfbench/run.py --workload registry_heavy --tables <dir> --record ...

Run from the repository root. The first run compiles the program
(src/main/scala) and the benchmark (perfbench/src) with the Scala
compiler that ships in Spark's jars directory ($SPARK_HOME/jars, else
the one build.sbt names) into .bench_build/, keyed by a hash of the
sources. The first run of each workload on a build also records a
class-data archive of the classes it loaded; later runs map it instead
of loading those classes again, which takes about 5 s off every run's
start. Each run
works in its own directory under .bench_build/ and removes it at the
end; result and span files stay in .bench_build/results/. The last line
of standard output is the result JSON.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time
import zipfile

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.join(ROOT, ".bench_build")


def spark_jars():
    """$SPARK_HOME/jars, else the jars directory build.sbt compiles against
    (its `unmanagedBase`)."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        return m.group(1) if m else ""
    except OSError:
        return ""


SPARK_JARS = spark_jars()
MAIN_SRC = os.path.join(ROOT, "src", "main", "scala")
MAIN_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src")
TEST_SRC = os.path.join(HERE, "test")
RUN_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources(*dirs, suffix=".scala"):
    out = []
    for d in dirs:
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith(suffix)]
    return sorted(out)


def build(with_tests=False):
    """Compile into .bench_build/build-<hash>/bench.jar (selftest-<hash> with
    the tests); reuse it when present."""
    if not os.path.isdir(MAIN_SRC) or not sources(MAIN_SRC):
        fail(f"no program sources under {MAIN_SRC}; run from the repository root")
    if not os.path.isdir(SPARK_JARS):
        fail(f"no Spark jars at '{SPARK_JARS}'; set SPARK_HOME")
    srcs = sources(MAIN_SRC, BENCH_SRC) + (sources(TEST_SRC) if with_tests else [])
    resources = sources(MAIN_RES, suffix="")
    h = hashlib.sha256()
    for f in srcs + resources:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    prefix = "selftest-" if with_tests else "build-"
    out = os.path.join(BUILD, prefix + h.hexdigest()[:16])
    jar = os.path.join(out, "bench.jar")
    if os.path.exists(jar):
        return out
    classes = out + ".classes"
    shutil.rmtree(classes, ignore_errors=True)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    t0 = time.time()
    print(f"perfbench: compiling {len(srcs)} files ...", file=sys.stderr)
    cmd = ["java", "-Xss16m", "-Xmx2g", "-cp", os.path.join(SPARK_JARS, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp", "-d", classes, "@" + argfile]
    if subprocess.run(cmd, cwd=ROOT).returncode != 0:
        fail("compilation failed")
    os.makedirs(out)
    # class-data archives need a jar on the class path, not a directory
    with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_STORED) as z:
        for base, _, files in os.walk(classes):
            for f in sorted(files):
                p = os.path.join(base, f)
                z.write(p, os.path.relpath(p, classes))
        for p in resources:
            z.write(p, os.path.relpath(p, MAIN_RES))
    os.rename(jar + ".tmp", jar)
    shutil.rmtree(classes)
    os.remove(argfile)
    for old in os.listdir(BUILD):
        if old.startswith(prefix) and os.path.join(BUILD, old) != out:
            shutil.rmtree(os.path.join(BUILD, old), ignore_errors=True)
    print(f"perfbench: compiled in {time.time() - t0:.1f} s", file=sys.stderr)
    return out


def commit_id():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def java_cmd(build_dir, work, main, args, archive=None):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cds = []
    if archive:
        path = os.path.join(build_dir, archive)
        cds = ([f"-XX:SharedArchiveFile={path}"] if os.path.exists(path)
               else [f"-XX:ArchiveClassesAtExit={path}"])
    return (["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-Xlog:disable",
             "-Xlog:all=error:stderr"] + cds + opens +
            [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
             "-cp", os.path.join(build_dir, "bench.jar") + os.pathsep +
             os.path.join(SPARK_JARS, "*"), main] + args)


def run_java(cmd, env):
    """Run the JVM, pass its stderr through, return (code, stdout lines).
    The JVM is killed and waited for if it overruns or this process is
    terminated."""
    p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, env=env)

    def stop(signum, _frame):
        p.kill()
        p.wait()
        sys.exit(128 + signum)

    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, stop)
    try:
        out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    return p.returncode, out.splitlines()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--tables", help="registry_heavy: another directory of the sf tables "
                    "(default perfbench/data/sf0.01)")
    ap.add_argument("--record", action="store_true",
                    help="rewrite perfbench/data/expected_registry.tsv (registry_heavy)")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        fail("--workload is required")

    build_dir = build(with_tests=a.selftest)
    work = os.path.join(BUILD, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    env = dict(os.environ, PERFBENCH_COMMIT=commit_id())
    try:
        if a.selftest:
            code, lines = run_java(java_cmd(build_dir, work, "graft.perfbench.SelfTest", []), env)
            print("\n".join(lines))
            sys.exit(code)
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work", work,
                "--data", os.path.join(HERE, "data"), "--out", os.path.join(BUILD, "results"),
                "--spec", os.path.join(ROOT, "BENCHMARK.json")]
        if a.tables:
            args += ["--tables", os.path.abspath(a.tables)]
        cmd = java_cmd(build_dir, work, "graft.perfbench.Main", args,
                       archive=f"classes-{a.workload}.jsa")
        if a.record:
            cmd.insert(1, "-Dperfbench.record=1")
        code, lines = run_java(cmd, env)
        results = [l for l in lines if l.startswith('{"correct"')]
        for line in lines:
            if line not in results:
                print(line, file=sys.stderr)
        if code != 0 or not results:
            fail(f"benchmark exited with code {code}")
        print(json.dumps(json.loads(results[-1])))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
