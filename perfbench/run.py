#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload hr-stream --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --self-check

Run from the repository root. The first run compiles the library from
../src/main/scala together with the benchmark code in perfbench/src (sbt, offline),
later runs reuse the classes. The JVM runs the workload and writes a result
record; for engine-loops this script then replays the queries' oracle SQL in
DuckDB over the same tables and compares. The last line of stdout is the
result: {"correct", "attempted", "failed", "metrics"}. Details go to stderr.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.built")
WORKLOADS = ("hr-stream", "engine-loops")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def newest_mtime(*dirs):
    newest = 0.0
    for d in dirs:
        for base, _, files in os.walk(d):
            for f in files:
                if f.endswith((".scala", ".sbt", ".properties")):
                    newest = max(newest, os.path.getmtime(os.path.join(base, f)))
    return newest


def build():
    """Compile with sbt unless the classes are newer than every source."""
    if not os.path.isdir(LIB_SRC):
        sys.exit(f"library sources not found at {LIB_SRC}: run from a graft checkout")
    sources = newest_mtime(LIB_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "project"))
    sources = max(sources, os.path.getmtime(os.path.join(HERE, "build.sbt")))
    if os.path.exists(STAMP) and os.path.getmtime(STAMP) >= sources:
        return
    log("building (sbt compile)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Djava.io.tmpdir=" +
                       tmp_dir(os.path.join(HERE, "target"))).strip()
    t0 = time.time()
    proc = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile"],
                          cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          timeout=BUILD_TIMEOUT_S, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        sys.exit(f"build failed (exit {proc.returncode})")
    open(STAMP, "w").close()
    log(f"built in {time.time() - t0:.0f} s")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            sys.exit("SPARK_HOME is not set and spark-submit is not on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return os.path.join(home, "jars", "*")


def java_cmd(main, args, tmp, heap="2g"):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return [java, *opens, f"-Xms{heap}", f"-Xmx{heap}", "-XX:+UseParallelGC",
            "-XX:ReservedCodeCacheSize=512m",
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", os.pathsep.join([CLASSES, spark_jars()]), main, *args]


def cpu_times():
    """The machine-wide CPU time counters (user ... steal), or None."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return None


def tmp_dir(parent):
    d = os.path.join(parent, "tmp")
    os.makedirs(d, exist_ok=True)
    return d


def run_jvm(cmd, timeout):
    """Run the JVM to its end; kill it and wait if it overruns."""
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=sys.stderr, stderr=subprocess.STDOUT)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit(f"JVM did not finish in {timeout} s")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-check", action="store_true")
    a = ap.parse_args()
    if not a.self_check and not a.workload:
        ap.error("--workload is required")
    build()

    work = os.path.join(HERE, "work", f"{a.workload or 'self-check'}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if a.self_check:
            sys.exit(self_check(work))
        result_file = os.path.join(work, "result.json")
        launch_ms = str(int(time.time() * 1000))
        cpu0 = cpu_times()
        code = run_jvm(java_cmd("perfbench.Main", [a.workload, str(a.seed), str(a.seconds),
                                                   str(a.trace), work, launch_ms, result_file],
                                tmp_dir(work)), JVM_TIMEOUT_S)
        if not os.path.exists(result_file):
            sys.exit(f"JVM exited {code} without a result")
        res = json.load(open(result_file))
        cpu1 = cpu_times()
        if cpu0 and cpu1:
            # the share of this machine's CPU time its hypervisor gave to
            # others during the run: figures read with it
            res["notes"]["cpu_steal_share"] = (cpu1[7] - cpu0[7]) / max(1, sum(cpu1) - sum(cpu0))
        if a.workload == "engine-loops":
            import oracle
            t0 = time.time()
            problems = oracle.compare_engine(os.path.join(work, "tables"),
                                             os.path.join(work, "engine-out"), work)
            res["notes"]["oracle_s"] = time.time() - t0
            res["mismatches"] += problems
            res["correct"] = res["correct"] and not problems
        if a.trace:
            keep = os.path.join(HERE, "out")
            os.makedirs(keep, exist_ok=True)
            shutil.copy(os.path.join(work, "trace.json"),
                        os.path.join(keep, f"trace-{a.workload}-{a.seed}.json"))
        for k in ("error", "mismatches", "notes"):
            log(f"{k}: {json.dumps(res.get(k))}")
        print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))
        sys.exit(0 if res.get("error") is None else 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def self_check(work):
    """Feed each comparison a planted wrong output; each must reject it."""
    code = run_jvm(java_cmd("perfbench.SelfCheck", [work], tmp_dir(work), heap="1g"), JVM_TIMEOUT_S)
    import oracle
    bad = oracle.self_check(work)
    for b in bad:
        log(b)
    ok = code == 0 and not bad
    log("self-check " + ("passed" if ok else "FAILED"))
    return 0 if ok else 1


if __name__ == "__main__":
    main()
