"""Window-job benchmark: one command builds, runs one workload, checks its
outputs and prints its metrics.

    python3 windowbench/run.py --workload stream_trickle --seed 1 --seconds 20 --trace 0

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; the lines before it
name every metric of the workload with its unit. ``--trace 1`` reports the
per-layer metrics instead of the end-to-end ones and writes the run's spans
to ``windowbench/out/``. See windowbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)
import build  # noqa: E402

WORKLOADS = ("stream_trickle", "lake_dashboard")
# seconds a run may take once built; the JVM is killed after this
RUN_LIMIT_S = 170
# Spark 4 on JDK 17 outside spark-submit needs the module openings
# spark-submit would add (JavaModuleOptions.defaultModuleOptions)
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
         "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
         "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
         "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
         "java.base/sun.util.calendar"]


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", required=True, choices=("0", "1"))
    a = p.parse_args()
    # a terminated run still stops the processes it started (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        classes, jars = build.build()
    except RuntimeError as e:
        sys.exit("windowbench: build failed: %s" % e)

    started = time.monotonic()
    cpus = len(os.sched_getaffinity(0))
    out = os.path.join(BENCH, "out")
    work = os.path.join(out, "run-%d" % os.getpid())
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java", "-Xmx3g", "-Xss4m", "-XX:+UseG1GC", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for o in OPENS:
        cmd += ["--add-opens", o + "=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(jars, "*"), "windowbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--work", work, "--cpus", str(cpus)]
    if a.trace == "1":
        cmd += ["--trace-out", os.path.join(out, "trace-%s-seed%d.json" % (a.workload, a.seed))]

    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    last = None
    try:
        signal.signal(signal.SIGALRM, lambda *_: os.killpg(proc.pid, signal.SIGKILL))
        signal.alarm(RUN_LIMIT_S)
        for line in proc.stdout:
            if last is not None:
                print(last, flush=True)
            last = line.rstrip("\n")
        rc = proc.wait()
        signal.alarm(0)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0:
        sys.exit("windowbench: run failed (exit %d after %.0f s)" % (rc, time.monotonic() - started))
    try:
        result = json.loads(last)
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (TypeError, ValueError, AssertionError):
        sys.exit("windowbench: no result line")
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
