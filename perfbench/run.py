#!/usr/bin/env python3
"""Benchmark command: migration copy / rerun / delta and a warm query mix.

Usage:
  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the checkout root. Builds the engine and the benchmark package
(perfbench/build.py), then runs one workload in a single JVM with a
local[nproc] Spark session. Every timed operation is checked against the
seeded generator's expectations; the last stdout line is the result JSON.
Exits non-zero when any output is wrong or the run cannot start.

Other modes (same build):
  --selftest              run the benchmark's own tests
  --record-queries DIR    run the query mix once, dump each result as parquet
                          under DIR and print its digests (see oracle_check.py)
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))
import build  # noqa: E402  (the package's build file)

WORKLOADS = ("migrate_copy", "migrate_rerun", "migrate_delta", "query_mix")
DATA = BENCH / "data" / "sf0.01"
JVM_LIMIT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def jvm_command(classes: Path, work: Path, main_args: list) -> list:
    jars = build.spark_jars()
    props = {
        "spark.ui.enabled": "false",
        "spark.sql.session.timeZone": "UTC",
        # the phase attribution reads the whole call-site stack of each job
        "spark.callstack.depth": "400",
        "spark.local.dir": str(work / "spark-local"),
        "spark.hadoop.hadoop.tmp.dir": str(work / "hadoop-tmp"),
        # counts the local file system's metadata and write calls
        "spark.hadoop.fs.file.impl": "perfbench.CountingLocalFs",
        "java.io.tmpdir": str(work / "tmp"),
        "graft.ivf.root": str(work / "index" / "ivf"),
        "graft.lexindex.root": str(work / "index" / "lex"),
        "graft.dupindex.root": str(work / "index" / "dup"),
        "graft.mmivf.root": str(work / "index" / "mm"),
    }
    cmd = ["java", "-Xms2g", "-Xmx2g", "-Xss8m"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-D{k}={v}" for k, v in props.items()]
    cmd += ["-cp", f"{classes}{os.pathsep}{jars}/*", "perfbench.Main"]
    return cmd + main_args


def run_jvm(cmd: list, work: Path, limit_s: float) -> tuple:
    """Run the JVM in its own process group; returns (code, stdout lines)."""
    log = open(work / "jvm.log", "w")
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=log,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=max(limit_s, 10))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        log.close()
        print(f"run: JVM exceeded {limit_s:.0f} s; killed", file=sys.stderr)
        return 124, []
    finally:
        # the JVM forks no children, but reap the group in any case
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    log.close()
    return proc.returncode, out.splitlines()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--record-queries", metavar="DIR")
    a = ap.parse_args()
    if not (a.workload or a.selftest or a.record_queries):
        ap.error("one of --workload, --selftest or --record-queries is required")
    if not (DATA / "orders.parquet").is_file():
        print(f"run: benchmark data missing at {DATA}", file=sys.stderr)
        return 2
    try:
        classes = build.build()
    except build.BuildError as e:
        print(f"run: build failed: {e}", file=sys.stderr)
        return 2
    t0 = time.monotonic()  # a first run may spend longer building

    work = BENCH / ".work" / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local", "hadoop-tmp"):
        (work / d).mkdir(parents=True)
    # one Spark task slot per CPU this process may run on (`nproc`)
    args = ["--data", str(DATA), "--work", str(work),
            "--cores", str(len(os.sched_getaffinity(0)))]
    if a.selftest:
        args += ["--selftest"]
    elif a.record_queries:
        args += ["--record-queries", str(Path(a.record_queries).resolve())]
    else:
        out_dir = BENCH / "out"
        out_dir.mkdir(exist_ok=True)
        args += ["--workload", a.workload, "--seed", str(a.seed),
                 "--seconds", str(a.seconds), "--trace", str(a.trace),
                 "--trace-out",
                 str(out_dir / f"trace_{a.workload}_s{a.seed}.json")]
    try:
        code, lines = run_jvm(jvm_command(classes, work, args), work,
                              JVM_LIMIT_S - (time.monotonic() - t0))
        if code != 0:
            log = (work / "jvm.log").read_text(errors="replace").splitlines()
            causes = [l for l in log if "Exception" in l and not l.startswith("\t")]
            print("\n".join(causes[:10] + log[-20:]), file=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    result = None
    for line in lines:
        try:
            obj = json.loads(line)
        except ValueError:
            print(line)
            continue
        if isinstance(obj, dict) and "metrics" in obj and "correct" in obj:
            result = obj
        else:
            print(line)
    if a.workload is None:
        return code
    if result is None:
        print("run: the JVM printed no result", file=sys.stderr)
        return code or 1
    print(json.dumps(result))
    return code if code else (0 if result["correct"] else 1)


if __name__ == "__main__":
    sys.exit(main())
