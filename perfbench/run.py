#!/usr/bin/env python3
"""Benchmark of the graft engine: topic_sort, stream_window, corpus_dedup.

Run from the root of a checkout:

    python3 perfbench/run.py --workload topic_sort --seed 1 --seconds 12 --trace 0

The first run builds the program and the harness from source with sbt
(into .bench_build/); later runs reuse the build while the sources are
unchanged. The harness runs in one JVM on local[N], N = min(4, cores).
Metric lines are printed as `name value unit`; the last line of stdout
is the result JSON. The exit code is not 0 when the build or the run fails.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

WORKLOADS = ("topic_sort", "stream_window", "corpus_dedup")
RUN_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 600
HEAP = "2g"
# Spark on JDK 17 outside spark-submit needs these module opens.
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


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark distribution found (set SPARK_HOME)")
    return home


def source_files(root):
    """Every file the build reads, relative to the checkout root."""
    out = []
    for base in ("src/main", "perfbench/src"):
        for d, _, fs in os.walk(os.path.join(root, base)):
            out += [os.path.relpath(os.path.join(d, f), root) for f in fs]
    out += ["perfbench/build.sbt", "perfbench/project/build.properties"]
    return sorted(out)


def stamp(root):
    h = hashlib.sha256()
    for rel in source_files(root):
        h.update(rel.encode())
        with open(os.path.join(root, rel), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(root, build_dir, env):
    """Compile program + harness; return the runtime classpath."""
    cp_file = os.path.join(build_dir, "classpath.txt")
    stamp_file = os.path.join(build_dir, "stamp.txt")
    want = stamp(root)
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == want:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(build_dir, exist_ok=True)
    log = os.path.join(build_dir, "build.log")
    with open(log, "w") as lf:
        p = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=os.path.join(root, "perfbench"), env=env, stdout=subprocess.PIPE,
            stderr=lf, text=True, timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL)
        lf.write(p.stdout)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        fail(f"build failed (log: {log})", 1)
    lines = [l.strip() for l in p.stdout.splitlines() if l.strip()]
    # `export` prints the classpath bare, after the [info]-prefixed log lines
    cps = [l for l in lines if not l.startswith("[") and ".jar" in l]
    if not cps:
        fail(f"build printed no classpath (log: {log})", 1)
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(want)
    return cps[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--cores", type=int, default=max(1, min(4, os.cpu_count() or 1)),
                    help="local[N] worker threads (default: min(4, cores)); 1 gives the single-core baseline")
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("run from the root of a checkout: the program's sources (src/main/scala/graft) are missing")
    if not shutil.which("sbt") or not shutil.which("java"):
        fail("sbt and java must be on PATH")

    build_dir = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    env = dict(os.environ)
    env["SPARK_HOME"] = spark_home()
    env["PERFBENCH_BUILD_DIR"] = os.path.relpath(build_dir, root)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Xmx2g"]))
    sbt_tmp = os.path.join(build_dir, "sbt-tmp")
    os.makedirs(sbt_tmp, exist_ok=True)
    env["SBT_OPTS"] += f" -Djava.io.tmpdir={sbt_tmp}"
    classpath = build(root, build_dir, env)

    run_dir = os.path.join(build_dir, f"run-{os.getpid()}")
    trace_out = os.path.join(build_dir, "traces", f"{a.workload}-seed{a.seed}.jsonl")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:+AlwaysPreTouch",
           f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(a.cores), "--workdir", run_dir,
            "--trace-out", trace_out]
    log = os.path.join(build_dir, "logs", f"{a.workload}-seed{a.seed}-trace{a.trace}.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=root, stdout=subprocess.PIPE, stderr=lf, text=True,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            shutil.rmtree(run_dir, ignore_errors=True)
            fail(f"run exceeded {RUN_TIMEOUT_S} s (log: {log})", 3)
    shutil.rmtree(run_dir, ignore_errors=True)

    result = None
    for line in out.splitlines():
        if line.startswith("metric "):
            _, name, value, unit = line.split(" ", 3)
            print(f"{name} {value} {unit}")
        elif line.startswith("result "):
            result = json.loads(line[len("result "):])
    if proc.returncode != 0 or result is None:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"run failed with exit code {proc.returncode} (log: {log})", 1)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
