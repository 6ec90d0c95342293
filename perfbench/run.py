#!/usr/bin/env python3
"""Run one benchmark workload, or the quick self-check, from the repository root.

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
  python3 perfbench/run.py --selfcheck

Builds the library and the benchmark first when a source changed (see
build.py), then runs the benchmark in one JVM at local[n], n = the number of
processors. All files it writes stay under .bench_build in the current
directory, and are removed when the run ends except for the build itself.
The last line of standard output is the JSON result.
"""
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True  # leave no __pycache__ beside the sources
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main():
    build.build()
    run_dir = os.path.join(build.OUT, "run-%d" % os.getpid())
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    # a fixed heap, so that peak resident memory does not depend on how far
    # the collector chose to grow the heap in this run
    cmd = ["java", "-Xms2g", "-Xmx2g", "-Xss4m"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += [
        "-Djava.io.tmpdir=" + tmp,
        "-Dspark.local.dir=" + tmp,
        "-Dspark.sql.warehouse.dir=" + os.path.join(run_dir, "warehouse"),
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-Dperfbench.work=" + os.path.join(run_dir, "work"),
        "-cp", build.classpath(), "graft.perfbench.Main",
    ] + sys.argv[1:]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)

    def stop(signum, _frame):
        proc.kill()
        proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        sys.exit("run: benchmark did not finish within %d s" % TIMEOUT_S)
    shutil.rmtree(run_dir, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(out)
        sys.exit("run: benchmark exited with code %d" % proc.returncode)
    print(lines[-1])


if __name__ == "__main__":
    main()
