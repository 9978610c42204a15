"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload frontier_round --seed 1 --seconds 16 --trace 0

Any cwd works. Workloads: frontier_round, crawl_resume; ``--scale smoke``
shrinks the inputs to prove the command and its checks in under a minute.
See perfbench/README.md.

This file is the supervisor. It pins the environment (PYTHONPATH for the
Python workers, a fixed driver heap, Spark scratch and temp dirs inside the
checkout), starts perfbench/worker.py in a session of its own, samples the
memory of that whole process tree (driver, JVM, Python workers),
counts the engine's "No Partition Defined for Window" log lines, stops
every process of the session, and prints the worker's result as the last
line of stdout. It exits non-zero, without a result, when the engine is not
next to it or the worker fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("frontier_round", "crawl_resume")
HEAP = "2g"  # fixed driver heap (-Xms = -Xmx), well below the RAM of a 15 GB machine
TIMEOUT_S = 175
WINDOW_WARNING = "No Partition Defined for Window"


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--scale", default="full", choices=("full", "smoke"))
    return ap.parse_args(argv)


def session_pids(sid: int) -> list[int]:
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                # fields after "(comm)": state ppid pgrp session ...
                if int(f.read().rsplit(")", 1)[1].split()[3]) == sid:
                    out.append(int(name))
        except OSError:
            continue
    return out


def pss_kb(pid: int) -> int:
    """Proportional set size: resident KiB with each shared page split among
    the processes sharing it, so Python workers forked from one daemon are
    not counted once per fork."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def stop_session(sid: int) -> None:
    """SIGKILL whatever is left of the session and wait until it is gone."""
    deadline = time.time() + 20
    while True:
        pids = session_pids(sid)
        if not pids or time.time() > deadline:
            return
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass
        time.sleep(0.1)


def main() -> int:
    t0 = time.time()
    args = parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "warcbase_spark", "__init__.py"))
            and os.path.isfile(os.path.join(ROOT, "bench.py"))):
        print(f"perfbench: no warcbase_spark/ and bench.py in {ROOT}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d))
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        PYSPARK_PYTHON=sys.executable,
        # the same string hashing in every run and every Python worker
        PYTHONHASHSEED="0",
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_DRIVER_MEM=HEAP,
        SPARK_GRAFT_LOCAL_DIR=os.path.join(work, "spark-local"),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=os.path.join(work, "tmp"),
        # no hsperfdata files in the system temp dir, for every JVM started
        JAVA_TOOL_OPTIONS=" ".join(p for p in (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData") if p),
        PERFBENCH_ROOT=ROOT,
        PERFBENCH_WORK=work,
        PERFBENCH_T0=repr(t0),
    )
    log_path = os.path.join(work, "worker.log")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--scale", args.scale]
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                                stderr=log, text=True, start_new_session=True)
    peak_kb = [0]
    done = threading.Event()

    def sample() -> None:
        while not done.is_set():
            peak_kb[0] = max(peak_kb[0], sum(pss_kb(p) for p in session_pids(proc.pid)))
            done.wait(0.2)

    sampler = threading.Thread(target=sample, daemon=True)
    sampler.start()
    try:
        out, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        out = ""
        print(f"perfbench: worker exceeded {TIMEOUT_S}s", file=sys.stderr)
    finally:
        done.set()
        sampler.join()
        stop_session(proc.pid)
        proc.wait()

    with open(log_path, errors="replace") as f:
        log_lines = f.read().splitlines()
    lines = out.splitlines()
    result = None
    if proc.returncode == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    if result is None:
        print("\n".join(log_lines[-40:]), file=sys.stderr)
        print(f"perfbench: worker failed (exit {proc.returncode})", file=sys.stderr)
        return 1
    shutil.rmtree(work, ignore_errors=True)

    for line in lines[:-1]:
        print(line)
    if args.trace:
        n_warn = sum(WINDOW_WARNING in line for line in log_lines)
        result["metrics"]["log.window_warnings"] = {"value": n_warn, "unit": "count"}
    else:
        result["metrics"]["peak_pss_mb"] = {"value": peak_kb[0] / 1024, "unit": "MB"}
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
