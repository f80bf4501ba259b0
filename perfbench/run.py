"""Run the repository benchmark.

    python3 perfbench/run.py --workload verify|dedup|migrate|all \
        --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --selftest

Builds the program from source (see build.py), then runs the workload in
one JVM on a local Spark session with one slot per available core. The
last line of stdout is one JSON object: correct, attempted, failed and
metrics (end-to-end metrics with --trace 0, per-layer metrics with
--trace 1). The exit code is non-zero if any task failed its output check
or the program could not be built.
"""
import argparse
import os
import signal
import subprocess
import sys
import threading

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

HEAP = "2g"
DEADLINE_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", default="all", choices=["verify", "dedup", "migrate", "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()

    classes = build.build()
    work = build.WORK
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    here = os.path.dirname(os.path.abspath(__file__))
    cmd = ["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-Duser.timezone=UTC",
           "-Djava.io.tmpdir=" + tmp, "-Dspark.local.dir=" + tmp,
           "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
           "-Dspark.ui.enabled=false",
           "-Dlog4j2.configurationFile=" + os.path.join(here, "log4j2.properties")]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + build.spark_classpath(), "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work]
    if a.selftest:
        cmd.append("--selftest")

    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    proc = subprocess.Popen(cmd, cwd=build.ROOT, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    timer = threading.Timer(DEADLINE_S, lambda: os.killpg(proc.pid, signal.SIGKILL))
    timer.start()
    try:
        for line in proc.stdout:
            sys.stdout.write(line)
            sys.stdout.flush()
        rc = proc.wait()
    finally:
        timer.cancel()
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if rc != 0:
        print(f"perfbench: exit code {rc}", file=sys.stderr)
    return rc


if __name__ == "__main__":
    sys.exit(main())
