#!/usr/bin/env python3
"""Benchmark launcher.

    python3 perfbench/run.py --workload ingest|queries|lake --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --self-test      # the benchmark's own checks
    python3 perfbench/run.py --record         # re-record the entries' output signatures

Run from the root of a checkout. Builds the engine and the harness if
needed (perfbench/build.py), starts one JVM with a pinned environment, and
prints the harness's result object as the last line of stdout. Build and
run output goes to .bench_build/ (logs, traces, generated inputs); a run
that fails prints no result and exits non-zero.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
import build  # noqa: E402

ROOT = build.ROOT
WORK = os.path.join(build.BUILD, "work")
SIGNATURES = os.path.join(HERE, "signatures.tsv")
# a run that has not ended by then is killed and reported as failed
RUN_TIMEOUT_S = 170
HEAP = "3g"
# Spark 4 on JDK 17 outside spark-submit (the list build.sbt passes)
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


# JVM flags. ParallelGC runs no concurrent collector threads beside the
# engine. The entry workloads also stop the JIT at C1: C2 compilation of
# Spark's code keeps running for minutes, and in a run this short it both
# burns CPU inside the timed passes and keeps speeding them up (pass times
# fell by a third across a 45 s run), so where in that curve a run landed
# decided its numbers. The ingest path is small and settles under C2 within
# its warm-up passes.
JVM_FLAGS = ["-XX:+UseParallelGC"]
SPARK_JVM_FLAGS = ["-XX:TieredStopAtLevel=1"]


def jvm_command(classpath, tmp, main_args, spark):
    lake_dir = os.path.join(ROOT, "src/main/scala/graft/lake")
    lake_sources = ",".join(sorted(f for f in os.listdir(lake_dir) if f.endswith(".scala")))
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java"] + opens +
            [f"-Xms{HEAP}", f"-Xmx{HEAP}"] + JVM_FLAGS + (SPARK_JVM_FLAGS if spark else []) + [
             f"-Djava.io.tmpdir={tmp}",
             f"-Dspark.local.dir={tmp}",
             f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
             f"-Dderby.system.home={tmp}",
             "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC",
             f"-Dperfbench.lakeSources={lake_sources}",
             "-cp", classpath, main_args[0]] + main_args[1:])


def run_jvm(main_args, log_name, spark=True):
    """Run one harness JVM; return its last stdout line, or None."""
    classpath = build.ensure()
    # set-up time starts here: JVM start-up counts, a build does not
    t0_ms = int(time.time() * 1000)
    os.makedirs(WORK, exist_ok=True)
    tmp = os.path.join(WORK, f"tmp-{os.getpid()}")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus()), SPARK_LOCAL_IP="127.0.0.1",
               SPARK_LOCAL_DIRS=tmp)
    log_path = os.path.join(build.BUILD, "logs", log_name)
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    cmd = jvm_command(classpath, tmp, main_args + ["--t0-ms", str(t0_ms)], spark)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, cwd=ROOT, env=env,
                                start_new_session=True, text=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            print(f"[perfbench] run exceeded {RUN_TIMEOUT_S}s; log: {log_path}", file=sys.stderr)
            return None
        finally:
            # the JVM never outlives the launcher (timeout, SIGTERM, ^C)
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
            shutil.rmtree(tmp, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        print(f"[perfbench] harness exited with {proc.returncode}; log: {log_path}", file=sys.stderr)
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-20:]))
        return None
    return lines[-1]


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=["ingest", "queries", "lake"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true")
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()
    common = ["--work", WORK, "--signatures", SIGNATURES]
    try:
        if a.self_test:
            line = run_jvm(["perfbench.SelfTest"] + common, "self-test.log")
        elif a.record:
            line = run_jvm(["perfbench.Main", "--record"] + common, "record.log")
        elif a.workload:
            line = run_jvm(["perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
                            "--seconds", str(a.seconds), "--trace", str(a.trace)] + common,
                           f"{a.workload}-{a.seed}-{a.trace}.log", spark=a.workload != "ingest")
        else:
            ap.error("one of --workload, --self-test or --record is required")
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2
    if line is None:
        return 1
    try:
        res = json.loads(line)
    except ValueError:
        print(f"[perfbench] unparseable harness output: {line[:300]}", file=sys.stderr)
        return 1
    if a.workload and not (a.self_test or a.record):
        if not RESULT_KEYS <= res.keys():
            print(f"[perfbench] result lacks {RESULT_KEYS - res.keys()}", file=sys.stderr)
            return 1
        # the run's environment on its own line; the result object is last
        print(json.dumps({"env": res.get("env", {})}))
        print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))
        return 0
    print(json.dumps(res))
    return 0 if res.get("ok", True) else 1


if __name__ == "__main__":
    sys.exit(main())
