#!/usr/bin/env python3
"""CDC benchmark of the graft engine.

    python3 perfbench/run.py --workload <bulk_replay|upsert_lookup|stream_views|all> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
benchmark from source with sbt (perfbench/build.sbt) and records the
classpath; later runs start the JVM directly. With --trace 0 the metrics
are the end-to-end ones of BENCHMARK.json, with --trace 1 the per-layer
ones, and a trace is written to perfbench/out/. The last stdout line is the
result object {correct, attempted, failed, metrics}.

A run writes only under perfbench/out/ and a scratch directory under
perfbench/.work/ that it deletes.
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
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
WORKLOADS = ["bulk_replay", "upsert_lookup", "stream_views"]
CLASSPATH = os.path.join(HERE, "target", "classpath.txt")
# Class-data archive of the classes a run loads, made once after each build:
# it cuts the JVM's class loading, most of a run's Spark start-up.
CDS_ARCHIVE = os.path.join(HERE, "target", "perfbench.jsa")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

# Spark on JDK 17 needs these when started outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def newest_source_mtime():
    """Latest modification time over the sources the build compiles."""
    newest = 0.0
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")):
        if os.path.isfile(top):
            newest = max(newest, os.path.getmtime(top))
        for dirpath, _, files in os.walk(top):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(dirpath, f)))
    return newest


def java_cmd(work, jvm_opts):
    """The benchmark JVM's command line up to the main class."""
    with open(CLASSPATH) as f:
        classpath = f.read().strip()
    # C1 only: a run is about a minute, too short for C2 to repay its
    # compile time on a 4-core host. The serial collector with a fixed young
    # generation: a parallel collector's worker threads spin when the host's
    # cores are contended, and that spinning counts as the process's CPU.
    cmd = ["java", "-Xmx3g", "-Xms1g", "-Xmn256m", "-XX:+UseSerialGC", "-XX:TieredStopAtLevel=1", "-Xlog:disable", "-Xlog:all=warning:stderr",
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp")]
    cmd += jvm_opts
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    return cmd + ["-cp", classpath, "perfbench.Main"]


def self_check(jvm_opts=()):
    """Run the oracle and arithmetic self-checks; True if they pass."""
    work = os.path.join(HERE, ".work", "check-%d" % os.getpid())
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    try:
        proc = subprocess.run(java_cmd(work, list(jvm_opts)) + [
            "--workload", "selfcheck", "--work", work, "--out", OUT],
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        return False
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.stdout.write(proc.stdout)
    if proc.returncode != 0:
        sys.stderr.write("\n".join(l for l in proc.stderr.splitlines() if "FAILED" in l) + "\n")
    return proc.returncode == 0


def build():
    """Compile engine + benchmark unless the recorded classpath is current."""
    if os.path.isfile(CLASSPATH) and os.path.getmtime(CLASSPATH) >= newest_source_mtime():
        return True
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        print("no engine sources at src/main/scala: run from a checkout of the repository",
              file=sys.stderr)
        return False
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.isfile(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.repository.config=%s "
                           "-Dsbt.offline=true -Xmx2g" % repos)
    try:
        proc = subprocess.run(["sbt", "-batch", "-Dsbt.server.forcestart=false", "writeClasspath"],
                              cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                              timeout=BUILD_TIMEOUT_S, text=True)
    except subprocess.TimeoutExpired:
        print("build timed out", file=sys.stderr)
        return False
    if proc.returncode != 0 or not os.path.isfile(CLASSPATH):
        sys.stderr.write(proc.stdout[-4000:])
        print("build failed", file=sys.stderr)
        return False
    # The self-check doubles as the class-data archive's training run.
    if os.path.exists(CDS_ARCHIVE):
        os.remove(CDS_ARCHIVE)
    if not self_check(["-XX:ArchiveClassesAtExit=" + CDS_ARCHIVE]):
        print("self-check failed", file=sys.stderr)
        os.remove(CLASSPATH)
        return False
    return True


def run_one(workload, seed, seconds, trace):
    """Run one workload in a fresh JVM; returns the parsed result or None."""
    work = os.path.join(HERE, ".work", "run-%d" % os.getpid())
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(OUT, exist_ok=True)
    cds = ["-XX:SharedArchiveFile=" + CDS_ARCHIVE] if os.path.isfile(CDS_ARCHIVE) else []
    cmd = java_cmd(work, cds) + ["--workload", workload, "--seed", str(seed),
                                 "--seconds", str(seconds), "--trace", str(trace), "--work", work, "--out", OUT]
    log_path = os.path.join(OUT, "%s-seed%s-trace%s.log" % (workload, seed, trace))
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                                    start_new_session=True)
            try:
                stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                print("%s: timed out after %d s" % (workload, RUN_TIMEOUT_S), file=sys.stderr)
                return None
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        with open(log_path) as log:
            sys.stderr.write(log.read()[-4000:])
        print("%s: exited with %d" % (workload, proc.returncode), file=sys.stderr)
        return None
    try:
        result = json.loads(lines[-1])
    except ValueError:
        print("%s: last line is not a result: %r" % (workload, lines[-1]), file=sys.stderr)
        return None
    if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
        print("%s: malformed result %r" % (workload, result), file=sys.stderr)
        return None
    for line in lines[:-1]:
        print(line)
    if trace:
        report_overhead(workload, seed)
    return result


def report_overhead(workload, seed):
    """Tracing overhead: the traced run's end-to-end numbers against the
    untraced run of the same workload and seed, when one was made."""
    paths = [os.path.join(OUT, "e2e-%s-seed%s-trace%d.json" % (workload, seed, t)) for t in (0, 1)]
    if not all(os.path.isfile(p) for p in paths):
        print("trace_overhead: no untraced run of %s seed %s to compare with" % (workload, seed))
        return
    plain, traced = [json.load(open(p)) for p in paths]
    for name in sorted(plain):
        a, b = plain[name]["value"], traced.get(name, {}).get("value")
        if b is not None and a:
            print("trace_overhead %s: untraced %.6g traced %.6g (%+.1f%%)" % (name, a, b, 100.0 * (b - a) / a))


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS + ["all"])
    ap.add_argument("--self-check", action="store_true",
                    help="check the oracle and the benchmark's arithmetic, then exit")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    started = time.time()
    if not build():
        return 1
    if args.self_check:
        return 0 if self_check() else 1
    if args.workload is None:
        ap.error("--workload is required")
    if args.workload != "all":
        result = run_one(args.workload, args.seed, args.seconds, args.trace)
        if result is None:
            return 1
        print(json.dumps(result))
        return 0
    combined = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in WORKLOADS:
        result = run_one(w, args.seed, args.seconds, args.trace)
        if result is None:
            return 1
        combined["correct"] &= result["correct"]
        combined["attempted"] += result["attempted"]
        combined["failed"] += result["failed"]
        for name, m in result["metrics"].items():
            combined["metrics"]["%s.%s" % (w, name)] = m
    print("total_s = %.1f" % (time.time() - started))
    print(json.dumps(combined))
    return 0


if __name__ == "__main__":
    sys.exit(main())
