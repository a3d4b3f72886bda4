#!/usr/bin/env python3
"""Build and run the graft benchmark.

Run from the repository root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

The first call compiles the engine (src/main/scala) together with the
benchmark (perfbench/src) with the Scala compiler shipped in Spark's jars,
into $CARGO_TARGET_DIR/perfbench (default .bench_build/perfbench). Later
calls reuse the classes while no source changed. Each run works in a fresh
directory under that build directory, removed when the run ends; a traced
run leaves its spans there as trace-<workload>-seed<n>.jsonl.

The last line printed is the result JSON; lines starting with '#' before
it give the tail latency, error rate, per-run setup samples and host
validity readings (steal, cgroup throttle, median MHz).
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
BENCH = os.path.dirname(os.path.abspath(__file__))
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
ENGINE_RES = os.path.join(ROOT, "src", "main", "resources")
BUILD = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build", "perfbench")
RUN_LIMIT_S = 170.0
BUILD_LIMIT_S = 800.0

# Spark 4 on JDK 17 needs these opens when the session is created outside
# spark-submit (org.apache.spark.launcher.JavaModuleOptions).
OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail("Spark jars not found: set SPARK_HOME or put spark-submit on PATH")
    return os.path.join(jars, "*")


def java():
    jh = os.environ.get("JAVA_HOME")
    return os.path.join(jh, "bin", "java") if jh else (shutil.which("java") or fail("java not found"))


def sources():
    if not os.path.isdir(ENGINE_SRC):
        fail(f"no engine sources at {os.path.relpath(ENGINE_SRC)}; run from the repository root")
    found = []
    for base in (ENGINE_SRC, os.path.join(BENCH, "src")):
        found += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
        found += glob.glob(os.path.join(base, "**", "*.java"), recursive=True)
    return sorted(found)


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(jars):
    srcs = sources()
    res = sorted(p for p in glob.glob(os.path.join(ENGINE_RES, "**", "*"), recursive=True) if os.path.isfile(p))
    stamp = digest(srcs + res)
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes, False
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    args_file = os.path.join(BUILD, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = [java(), "-Xss16m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main", "-nowarn",
           "-d", classes, "-cp", jars, "@" + args_file]
    t = time.time()
    r = run_child(cmd, BUILD_LIMIT_S, capture=True)
    if r is None or r.returncode != 0:
        sys.stderr.write((r.stdout + r.stderr)[-4000:] if r else "compile timed out\n")
        fail("build failed")
    for p in res:
        dst = os.path.join(classes, os.path.relpath(p, ENGINE_RES))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"# built {len(srcs)} sources in {time.time() - t:.1f} s", flush=True)
    return classes, True


def run_child(cmd, limit, capture=False, env=None):
    """Run cmd in its own process group; kill the group at `limit` s. None on timeout."""
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE if capture else None,
                         text=True, start_new_session=True, env=env)
    try:
        out, err = p.communicate(timeout=max(1.0, limit))
        return subprocess.CompletedProcess(cmd, p.returncode, out, err or "")
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        return None


def main():
    t0 = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", choices=["0", "1"])
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and None in (a.workload, a.seed, a.seconds, a.trace):
        ap.error("--workload, --seed, --seconds and --trace are required")

    jars = spark_jars()
    os.makedirs(BUILD, exist_ok=True)
    classes, built = build(jars)
    # the run limit counts from the start, except after a build, which the
    # first run of a checkout is allowed to take on top
    limit = RUN_LIMIT_S - (0 if built else time.time() - t0)

    work = os.path.join(BUILD, f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    props = [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
             f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
             f"-Dspark.hadoop.hadoop.tmp.dir={tmp}", "-Dspark.ui.enabled=false"]
    opens = [x for p in OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    if a.selftest:
        main_args = ["graftbench.SelfTest", work]
    else:
        main_args = ["graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
                     "--seconds", str(a.seconds), "--trace", a.trace, "--work", work]
    # a fixed heap: G1's adaptive heap growth differs from run to run and
    # moved peak RSS by up to 40% from one run to the next
    cmd = [java(), *opens, "-Xms2g", "-Xmx2g", *props, "-cp", f"{classes}{os.pathsep}{jars}", *main_args]
    try:
        r = run_child(cmd, limit, env=env)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if r is None:
        fail("run timed out")
    lines = r.stdout.rstrip("\n").split("\n")
    if r.returncode != 0:
        sys.stdout.write("\n".join(l for l in lines if l.startswith("#")) + "\n")
        fail(f"run exited with code {r.returncode}")
    if a.selftest:
        print(r.stdout, end="")
        return
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (ValueError, AssertionError):
        fail("the run printed no result line")
    print("\n".join(lines), flush=True)


if __name__ == "__main__":
    main()
