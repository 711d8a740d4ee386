#!/usr/bin/env python3
"""Benchmark runner for graft.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload coord_api --seed 1 --seconds 10 --trace 0

Builds the harness and the engine from source on first use (sbt, offline),
then runs one workload in a fresh JVM and prints the run's result as the last
line of stdout: one JSON object with `correct`, `attempted`, `failed` and
`metrics`. Everything a run writes stays under `.bench_build/` in the
checkout; a run keeps only its record in `.bench_build/records/`.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD = os.path.join(ROOT, ".bench_build")
RUN_TIMEOUT_S = 172
BUILD_TIMEOUT_S = 840

# JDK 17 module opens Spark needs outside spark-submit, as in build.sbt
OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_home():
    """The Spark installation whose jars the engine builds and runs
    against: SPARK_HOME, else the first PATH entry that is the bin
    directory of a Spark distribution."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        home = os.path.dirname(os.path.realpath(d))
        if os.path.isfile(os.path.join(d, "spark-submit")) and os.path.isdir(os.path.join(home, "jars")):
            return home
    return None


def cores():
    return len(os.sched_getaffinity(0))


def heap():
    """Half of MemTotal in whole GiB, clamped to [2, 8]: the rule the
    test command uses for SPARK_DRIVER_MEM."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(max(g, 2), 8)}g"


def source_hash():
    h = hashlib.sha256()
    for base in (ENGINE_SRC, os.path.join(BENCH, "src")):
        for d, _, files in sorted(os.walk(base)):
            for name in sorted(files):
                p = os.path.join(d, name)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    for p in ("build.sbt", "project/build.properties"):
        with open(os.path.join(BENCH, p), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout and
    waits for it. Returns (returncode or None on timeout, stdout)."""
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, start_new_session=True, text=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        return None, ""
    finally:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def build():
    """Compiles the harness and the engine once per source state;
    returns the runtime classpath."""
    stamp = os.path.join(BUILD, "perfbench-classpath.json")
    digest = source_hash()
    if os.path.exists(stamp):
        with open(stamp) as f:
            s = json.load(f)
        if s.get("sources") == digest:
            return s["classpath"]
    sbt_home = os.path.join(BUILD, "sbt")
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    repos = os.path.expanduser("~/.sbt/repositories")
    os.makedirs(os.path.join(sbt_home, "tmp"), exist_ok=True)
    # sbt's own state, boot jars and temporary files stay inside the checkout
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false",
            f"-Dsbt.global.base={sbt_home}/global", f"-Dsbt.boot.directory={sbt_home}/boot",
            f"-Djava.io.tmpdir={sbt_home}/tmp", "-XX:-UsePerfData", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    rc, out = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                           "export Runtime/fullClasspath"], BUILD_TIMEOUT_S, cwd=BENCH, env=env)
    sys.stderr.write("".join(l + "\n" for l in out.splitlines() if "scala-2.13/classes:" not in l))
    if rc != 0:
        fail(f"build failed (exit {rc})")
    cp = [l for l in out.splitlines() if "scala-2.13/classes" in l and ":" in l][-1].strip()
    os.makedirs(BUILD, exist_ok=True)
    with open(stamp, "w") as f:
        json.dump({"sources": digest, "classpath": cp}, f)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cp


def java_cmd(classpath, main, args, work):
    opens = [x for p in OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", f"-Xmx{heap()}", "-XX:-UsePerfData", *opens, "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={work}/tmp",
             f"-Dlog4j2.configurationFile={BENCH}/log4j2.properties",
             "-cp", classpath, main] + args)


def child_env():
    """The caller's environment without engine settings (SPARK_GRAFT_*),
    so a run never picks up a shared store or tuning from outside."""
    return {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}


def preflight():
    if not os.path.isfile(os.path.join(ENGINE_SRC, "graft", "SparkEntry.scala")):
        fail(f"engine sources not found under {ENGINE_SRC}; run from a full checkout")
    for tool in ("java", "sbt"):
        if shutil.which(tool) is None:
            fail(f"{tool} not found on PATH")
    if not spark_home() or not os.path.isdir(os.path.join(spark_home(), "jars")):
        fail("no Spark installation found: set SPARK_HOME")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    preflight()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if a.workload not in [w["name"] for w in bench["workloads"]]:
        fail(f"unknown workload {a.workload}")
    cp = build()
    work = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    records = os.path.join(BUILD, "records")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(records, exist_ok=True)
    record = os.path.join(records, f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    try:
        rc, out = run_bounded(java_cmd(cp, "graft.perfbench.Main", [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--data", os.path.join(BENCH, "data"),
            "--config", BENCH, "--cores", str(cores()), "--record", record], work),
            RUN_TIMEOUT_S, cwd=ROOT, env=child_env())
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if rc != 0 or not lines or not lines[-1].startswith("{"):
        sys.stdout.write(out)
        fail(f"run failed (exit {rc})")
    print("\n".join(lines[:-1]), file=sys.stderr)
    # the harness reports values by name; the units are BENCHMARK.json's
    r = json.loads(lines[-1])
    declared = bench["per_layer" if a.trace else "end_to_end"]
    missing = [m["name"] for m in declared if m["name"] not in r["metrics"]]
    if missing:
        fail(f"run reported no value for {', '.join(missing)}")
    r["metrics"] = {m["name"]: {"value": r["metrics"][m["name"]], "unit": m["unit"]}
                    for m in declared}
    print(json.dumps(r))


if __name__ == "__main__":
    main()
