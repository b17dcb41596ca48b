#!/usr/bin/env python3
"""Run one benchmark workload against the program in this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest
    python3 perfbench/run.py --record-goldens perfbench/goldens.tsv
    python3 perfbench/run.py --crosscheck <graft.Verify output dir>

Workloads: relational, curation, maplejuice_gen (see perfbench/README.md).
The first run builds the program's sources together with the harness
(perfbench/build.sbt, offline sbt); later runs reuse the build while no
source changed. All scratch files go to perfbench/work/. The last line of
stdout is the result JSON; a traced run (--trace 1) also writes its spans
and per-op layer metrics to perfbench/work/traces/.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
PROGRAM = ROOT / "src" / "main" / "scala"
CLASSES = BENCH / "target" / "scala-2.13" / "classes"
STAMP = BENCH / "target" / "perfbench.stamp"
WORK = BENCH / "work"
SPARK_JARS = Path("/opt/spark/jars")
WORKLOADS = ("relational", "curation", "maplejuice_gen")
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    h = hashlib.sha256()
    files = [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for top in (PROGRAM, BENCH / "src"):
        files += sorted(p for p in top.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    digest = source_digest()
    if STAMP.is_file() and STAMP.read_text() == digest and CLASSES.is_dir():
        return
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.is_file():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = WORK / "build.log"
    with open(log, "w") as out:
        try:
            code = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                                  cwd=BENCH, env=env, stdin=subprocess.DEVNULL,
                                  stdout=out, stderr=subprocess.STDOUT,
                                  timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            fail(f"build timed out after {BUILD_TIMEOUT_S} s (log: {log})")
    if code != 0:
        sys.stderr.write(log.read_text()[-4000:])
        fail(f"build failed (log: {log})")
    STAMP.write_text(digest)


def java_cmd(cores, main_args):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    run = WORK / "run"
    return (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in opens] +
            ["-Xmx4g", "-XX:+UseParallelGC",
             "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
             f"-Dspark.local.dir={run / 'spark-local'}",
             f"-Dspark.sql.warehouse.dir={run / 'warehouse'}",
             f"-Djava.io.tmpdir={run / 'tmp'}",
             "-cp", f"{CLASSES}:{SPARK_JARS}/*", "graft.perfbench.Main",
             "--bench", str(BENCH), "--work", str(run),
             "--traces", str(WORK / "traces"), "--cores", str(cores)] + main_args)


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--record-goldens", metavar="FILE")
    ap.add_argument("--crosscheck", metavar="VERIFY_OUT")
    a = ap.parse_args()
    if not (a.workload or a.selftest or a.record_goldens or a.crosscheck):
        ap.error("give --workload, --selftest, --record-goldens or --crosscheck")
    if not (PROGRAM / "graft" / "SparkEntry.scala").is_file():
        fail(f"the program's sources are not in {PROGRAM}; run from a full checkout")
    if not SPARK_JARS.is_dir():
        fail(f"Spark jars not found in {SPARK_JARS}")

    WORK.mkdir(exist_ok=True)
    build()
    run = WORK / "run"
    shutil.rmtree(run, ignore_errors=True)
    (run / "tmp").mkdir(parents=True)
    cores = len(os.sched_getaffinity(0))
    if a.selftest:
        main_args = ["--selftest", "1"]
    elif a.record_goldens:
        main_args = ["--record-goldens", str(Path(a.record_goldens).resolve())]
    elif a.crosscheck:
        main_args = ["--crosscheck", str(Path(a.crosscheck).resolve())]
    else:
        main_args = ["--workload", a.workload, "--seed", str(a.seed),
                     "--seconds", str(a.seconds), "--trace", str(a.trace)]
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    env["SPARK_LOCAL_IP"] = "127.0.0.1"
    log = WORK / "last-run.log"
    timeout = RUN_TIMEOUT_S if a.workload else None
    with open(log, "w") as err:
        proc = subprocess.Popen(java_cmd(cores, main_args), cwd=run, env=env,
                                stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                                stderr=err, text=True)

        def stop(signum, _frame):
            proc.kill()
            proc.wait()
            sys.exit(128 + signum)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            out, _ = proc.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.communicate()
            fail(f"run exceeded {timeout} s (log: {log})")
    sys.stdout.write(out)
    if proc.returncode != 0:
        sys.stderr.write(log.read_text()[-4000:])
        fail(f"benchmark exited with {proc.returncode} (log: {log})")


if __name__ == "__main__":
    main()
