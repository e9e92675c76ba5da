"""End-to-end ingestion benchmark of the graft engine.

Run from the repository root:

    python3 perfbench/run.py --workload ingest_sf001 --seed 1 --seconds 35 --trace 0
    python3 perfbench/run.py --selftest          # the oracle must reject tampered runs

Builds the engine and the benchmark from source (perfbench/build.py),
runs one workload in one JVM on local[nproc], and prints, as the last
line of standard output, one JSON object with the keys correct,
attempted, failed and metrics: the end-to-end metrics with --trace 0,
the per-layer metrics with --trace 1. Exits non-zero when the build or
the run fails or the oracle rejects the outputs. perfbench/README.md
describes the workloads and metrics.
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
import build  # noqa: E402

WORKLOADS = ["ingest_sf001", "semantic_tick"]
RUN_LIMIT_S = 170
# JDK 17 module opens Spark needs outside spark-submit (the engine's
# build.sbt passes the same list to its forked runs).
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
         "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
         "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
         "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
         "java.base/sun.util.calendar"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")
    if not os.path.isdir(os.path.join("src", "main", "scala")):
        sys.exit("perfbench: run from the repository root (src/main/scala not found)")

    started = time.time()
    cp = build.build()
    workload = "selftest" if a.selftest else a.workload
    work = os.path.abspath(os.path.join(".bench_work", f"{workload}-{a.seed}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cmd = (["java", "-Xms3g", "-Xmx3g", "-Xss4m", "-XX:+UseG1GC", f"-Djava.io.tmpdir={work}/tmp",
            f"-Dderby.system.home={work}/derby",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work])
    os.makedirs(os.path.join(work, "tmp"))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        budget = max(30.0, RUN_LIMIT_S - (time.time() - started)) if not a.selftest else 600
        out, _ = proc.communicate(timeout=budget)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit("perfbench: run exceeded its time limit")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    shutil.rmtree(work, ignore_errors=True)

    lines = out.splitlines()
    for line in lines:
        if not line.startswith("{"):
            print(line)
    if a.selftest:
        sys.exit(proc.returncode)
    result = next((l for l in reversed(lines) if l.startswith("{")), None)
    if result is None:
        sys.exit(f"perfbench: no result (JVM exit code {proc.returncode})")
    parsed = json.loads(result)
    print(json.dumps(parsed))
    if proc.returncode != 0 or not parsed["correct"] or parsed["failed"]:
        sys.exit(1)


if __name__ == "__main__":
    main()
