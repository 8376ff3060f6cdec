#!/usr/bin/env python3
"""Run one workload of the graft CDC + analytics benchmark.

    python3 perfbench/run.py --workload cdc --seed 1 --seconds 15 --trace 0

Run it from the root of a checkout. The first call compiles the engine's
sources together with the benchmark (perfbench/build.sbt); later calls reuse
the build while no source changed. The run itself is one JVM with Spark at
local[<cores>] and a fixed heap. Its full record (environment, end-to-end,
named and per-layer figures) is kept under perfbench/results/, and the last
line printed is the summary {"correct", "attempted", "failed", "metrics"}:
the end-to-end metrics with --trace 0, the per-layer ones with --trace 1.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "perfbench-classpath.txt")
STAMP = os.path.join(TARGET, "perfbench-stamp.txt")
RESULTS = os.path.join(HERE, "results")
WORKLOADS = ("cdc", "analytics_mix")
# A run (after the build) must end within 180 s; leave room to stop the JVM
# and report.
RUN_LIMIT_S = 170
HEAP_MB = 4096
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    h = hashlib.sha256()
    for base in (ENGINE_SRC, os.path.join(HERE, "src", "main"), os.path.join(HERE, "build.sbt"),
                 os.path.join(HERE, "project", "build.properties")):
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def spark_home():
    """The Spark installation of the first spark-submit on the PATH that
    sits next to Spark's jars (a pip-installed launcher does not)."""
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
        if os.path.isfile(submit) and glob.glob(os.path.join(home, "jars", "spark-sql_*.jar")):
            return home
    raise SystemExit("[perfbench] no Spark installation found: set SPARK_HOME")


def build():
    """Compile engine + benchmark with sbt unless the last build is current."""
    digest = sources_digest()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP) and open(STAMP).read() == digest:
        return open(CLASSPATH).read().strip()
    log("building the engine and the benchmark with sbt")
    t0 = time.time()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SPARK_HOME" not in env:
        env["SPARK_HOME"] = spark_home()
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    out = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True, timeout=840)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines or "scala-2.13" not in lines[-1]:
        sys.stderr.write(out.stdout[-4000:] + out.stderr[-4000:])
        raise SystemExit("[perfbench] build failed")
    os.makedirs(TARGET, exist_ok=True)
    log(f"built in {time.time() - t0:.0f} s")
    with open(CLASSPATH, "w") as f:
        f.write(lines[-1].strip())
    with open(STAMP, "w") as f:
        f.write(digest)
    return lines[-1].strip()


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def heap_mb():
    """A fixed heap, smaller on a machine that could not hold it twice."""
    try:
        with open("/proc/meminfo") as f:
            total_kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return min(HEAP_MB, total_kb // 1024 // 2)
    except (OSError, StopIteration):
        return HEAP_MB


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isfile(os.path.join(ENGINE_SRC, "graft", "SparkEntry.scala")):
        raise SystemExit("[perfbench] the engine sources (src/main/scala/graft) are not in this checkout")
    cp = build()
    started = time.time()

    n = cores()
    heap = heap_mb()
    work = os.path.join(TARGET, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d))
    env = dict(os.environ)
    env.update(SPARK_GRAFT_CPUS=str(n), SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    java = os.path.join(env["JAVA_HOME"], "bin", "java") if env.get("JAVA_HOME") else "java"
    cmd = ([java, f"-Xmx{heap}m", f"-Xms{heap}m", "-XX:+UseParallelGC",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work])
    record = None
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as err:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdin=subprocess.DEVNULL,
                                stdout=subprocess.PIPE, stderr=err, text=True)
        try:
            out, _ = proc.communicate(timeout=RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.communicate()
            out = ""
            log("the run did not finish in time")
    for line in out.splitlines():
        if line.startswith("PERFBENCH_RESULT "):
            record = json.loads(line[len("PERFBENCH_RESULT "):])
    if proc.returncode != 0 or record is None:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-60:]))
        raise SystemExit(f"[perfbench] {a.workload} failed (exit {proc.returncode})")
    shutil.rmtree(work, ignore_errors=True)

    record["wall_s"] = round(time.time() - started, 3)
    os.makedirs(RESULTS, exist_ok=True)
    name = f"{a.workload}-seed{a.seed}-trace{a.trace}-{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}.json"
    with open(os.path.join(RESULTS, name), "w") as f:
        json.dump(record, f, indent=1)
    metrics = record["layers"] if a.trace else record["metrics"]
    print(json.dumps({k: record[k] for k in ("correct", "attempted", "failed")} | {"metrics": metrics}))


if __name__ == "__main__":
    main()
