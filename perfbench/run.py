#!/usr/bin/env python3
"""Runs one workload of graft's benchmark and prints its result line.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

Run it from the repository root. The first run compiles graft's sources
together with the benchmark's own, using the Scala compiler that ships
with Spark (found through SPARK_HOME or `spark-submit` on the PATH), into
perfbench/.build; later runs reuse that build while no source changed.
The workload runs in one JVM. Its last line of standard output, one JSON
object, is also the last line this script prints. `--selftest` instead
feeds corrupted results to every correctness check and fails unless each
one catches its corruption.
"""
import argparse
import glob
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SOURCES = os.path.join(ROOT, "src", "main", "scala")
PROGRAM_RESOURCES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SOURCES = os.path.join(HERE, "src")
BUILD = os.path.join(HERE, ".build")
RUNS = os.path.join(HERE, ".run")
OUT = os.path.join(HERE, "out")
# a run must end within 180 s; the build before a first run is not counted
JVM_TIMEOUT_S = 170
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail("no Spark installation with a Scala compiler found; set SPARK_HOME")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        fail("no java found; set JAVA_HOME")
    return exe


def files_under(top, suffix=""):
    return sorted(os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs
                  if f.endswith(suffix))


def build(jars):
    """Compiles graft and the benchmark into one jar unless the last build
    used the same sources; returns the classpath of a run."""
    sources = files_under(PROGRAM_SOURCES, ".scala") + files_under(BENCH_SOURCES, ".scala")
    if not files_under(PROGRAM_SOURCES, ".scala"):
        fail(f"graft's sources are missing under {os.path.relpath(PROGRAM_SOURCES, ROOT)}")
    resources = files_under(PROGRAM_RESOURCES)
    digest = hashlib.sha256()
    for f in sources + resources:
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = digest.hexdigest()
    jar = os.path.join(BUILD, "perfbench.jar")
    classpath = jar + ":" + os.path.join(jars, "*")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(jar) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                return classpath
    os.makedirs(BUILD, exist_ok=True)
    out = tempfile.mkdtemp(prefix="classes-", dir=BUILD)
    argfile = out + ".args"
    with open(argfile, "w") as fh:
        fh.write("\n".join(sources))
    compile_classpath = ":".join(sorted(glob.glob(os.path.join(jars, "*.jar"))))
    print(f"perfbench: compiling {len(sources)} sources", file=sys.stderr)
    done = subprocess.run([java(), "-Xmx2g", "-Xss16m", "-cp", os.path.join(jars, "*"),
                           "scala.tools.nsc.Main", "-d", out, "-classpath", compile_classpath,
                           "-nowarn", "-encoding", "UTF-8", "@" + argfile],
                          stdout=sys.stderr)
    os.remove(argfile)
    if done.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        fail("compilation failed")
    # one jar, replaced whole, so a stopped build leaves no half build behind
    with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_DEFLATED) as z:
        for f in files_under(out):
            z.write(f, os.path.relpath(f, out))
        for f in resources:
            z.write(f, os.path.relpath(f, PROGRAM_RESOURCES))
    shutil.rmtree(out)
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    os.replace(jar + ".tmp", jar)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classpath


def run_jvm(cmd, env, timeout):
    """Runs the JVM in its own process group and returns (code, stdout
    lines); kills the whole group when it overruns or this script is
    stopped."""
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, env=env,
                            start_new_session=True)

    def stop(signum, _frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"stopped by signal {signum}", 128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"the run did not end within {timeout} s", 3)
    return proc.returncode, out.splitlines()


def run_main(classpath, name, main_args, timeout):
    """Runs perfbench.Main in a fresh run directory, deleted afterwards;
    returns (code, stdout lines)."""
    run_dir = os.path.join(RUNS, f"{name}-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    cmd = [java(), *ADD_OPENS, "-Xmx2g", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-cp", classpath, "perfbench.Main", *main_args, "--dir", run_dir]
    try:
        # Spark's scratch space stays inside the run directory
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
        return run_jvm(cmd, env, timeout)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=["serve", "refresh"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    if not args.selftest and not args.workload:
        ap.error("--workload is required")

    classpath = build(spark_jars())
    if args.selftest:
        sys.exit(subprocess.run([java(), "-cp", classpath, "perfbench.SelfTest"]).returncode)

    main_args = ["--workload", args.workload, "--seed", str(args.seed),
                 "--seconds", str(args.seconds), "--trace", str(args.trace)]
    if args.trace:
        main_args += ["--spans", os.path.join(OUT, f"spans-{args.workload}-{args.seed}.jsonl")]
    code, lines = run_main(classpath, f"{args.workload}-{args.seed}", main_args,
                           JVM_TIMEOUT_S)
    result = [l for l in lines if l.startswith("{")]
    for l in lines:
        if l not in result:
            print(l, file=sys.stderr)
    if code != 0 or not result:
        fail(f"the run failed (exit code {code})", code or 1)
    print(result[-1])


if __name__ == "__main__":
    main()
