"""Benchmark entry point: builds the repository and runs one workload in one JVM.

    python3 perfbench/run.py --workload log_load_ingest --seed 1 --seconds 15 --trace 0

Workloads: log_load_ingest, star_queries (see perfbench/NOTES.md).
Cores come from $SPARK_GRAFT_CPUS, else from the CPUs this process may use.
Every file a run makes lives in .bench_tmp/<pid> under the repository root
and is deleted when the run ends; a traced run (--trace 1) also leaves its
spans in .bench_out/. The last line of stdout is the result object.
Exits non-zero without printing a result when the build or the run fails.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("log_load_ingest", "star_queries")
TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs these (build.sbt sets the same).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def cores():
    env = os.environ.get("SPARK_GRAFT_CPUS", "")
    if env.isdigit() and int(env) > 0:
        return int(env)
    return len(os.sched_getaffinity(0))


def java_cmd(classpath, tmp, main, args):
    opts = []
    for p in ADD_OPENS:
        opts += ["--add-opens", p + "=ALL-UNNAMED"]
    return (["java"] + opts + [
        "-Xmx3g", "-XX:-UsePerfData",
        "-Djava.io.tmpdir=" + os.path.join(tmp, "java"),
        "-Dderby.system.home=" + os.path.join(tmp, "derby"),
        "-Dderby.stream.error.file=" + os.path.join(tmp, "derby", "derby.log"),
        "-Dspark.local.dir=" + os.path.join(tmp, "spark-local"),
        "-Dspark.sql.warehouse.dir=" + os.path.join(tmp, "warehouse"),
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-cp", classpath, main] + args)


def run_jvm(cmd, cwd):
    """Runs the JVM in its own process group; kills the group on timeout
    and waits for it. Returns (exit code, stdout)."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=subprocess.PIPE, text=True,
                         start_new_session=True)
    try:
        out, _ = p.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        print("perfbench: run exceeded %d s" % TIMEOUT_S, file=sys.stderr)
        return 1, ""
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise
    return p.returncode, out


def make_tmp():
    """This run's working directory under the repository root."""
    tmp = os.path.join(build.ROOT, ".bench_tmp", str(os.getpid()))
    for d in ("java", "derby", "spark-local", "warehouse"):
        os.makedirs(os.path.join(tmp, d), exist_ok=True)
    return tmp


def remove_tmp(tmp):
    shutil.rmtree(tmp, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(tmp))
    except OSError:
        pass


def main():
    # a terminated run still kills its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    try:
        classpath = build.build()
    except build.BuildError as e:
        print("perfbench: build failed: %s" % e, file=sys.stderr)
        return 2

    tmp = make_tmp()
    try:
        code, out = run_jvm(java_cmd(classpath, tmp, "perfbench.Main", [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--tmp", tmp, "--cores", str(cores())]), cwd=tmp)
    finally:
        remove_tmp(tmp)
    lines = out.rstrip("\n").split("\n") if out else []
    try:
        result = json.loads(lines[-1]) if code == 0 and lines else None
    except ValueError:
        result = None
    if result is None:
        sys.stderr.write(out)
        print("perfbench: run failed (exit %d)" % code, file=sys.stderr)
        return 1
    sys.stdout.write(out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
