"""Benchmark launcher: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload bulk_replay --seed 1 --seconds 10 --trace 0

Run from the repository root. The launcher owns the process tree: it
builds the environment Spark's Python workers need, starts the measuring
process (perfbench/workload.py) in its own session, samples the whole
tree's memory (PSS) from /proc while it runs, stops every process of
that session when it ends, and prints the result as the last line of
standard output. All scratch data lives under ``.perfbench_work/`` in the
current directory and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("bulk_replay", "serve_while_ingest")
TIMEOUT_S = 170.0
#: memory sampling period; reading smaps_rollup of the JVM takes ~8 ms,
#: so sampling faster would take CPU from the run it measures
SAMPLE_S = 0.5
#: driver JVM heap. The engine's default (16g) exceeds a 15 GB machine;
#: at 1g the benchmark's reads ran 2x slower under GC pressure
DRIVER_MEM = "3g"


def session_procs(sid: int) -> dict[int, int]:
    """pid -> parent pid of every live process of the session."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid and fields[0] != "Z":
            out[int(name)] = int(fields[1])
    return out


def in_parent_memory(pid: int, ppid: int) -> bool:
    """True for a child of the JVM that still runs the java binary. The
    JVM never forks a copy of itself: such a child is a posix_spawn
    (vfork) child between clone and exec, which runs in the JVM's address
    space, and /proc reports the JVM's whole memory for it too."""
    try:
        exe = os.readlink(f"/proc/{pid}/exe")
        return os.path.basename(exe) == "java" and exe == os.readlink(f"/proc/{ppid}/exe")
    except OSError:
        return False


def tree_pss_bytes(sid: int) -> int:
    """Summed proportional set size of the session's processes: pages
    shared by the forked Python workers count once, not once per worker,
    and the JVM is not counted a second time for a child it is spawning."""
    total = 0
    procs = session_procs(sid)
    for pid, ppid in procs.items():
        if ppid in procs and in_parent_memory(pid, ppid):
            continue
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


def stop_session(sid: int) -> None:
    """SIGTERM, then SIGKILL, every process of the session; wait until
    none is left."""
    for sig, grace in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 10.0)):
        pids = session_procs(sid)
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + grace
        while session_procs(sid) and time.monotonic() < deadline:
            time.sleep(0.05)
    if session_procs(sid):
        raise RuntimeError(f"processes of session {sid} survived SIGKILL")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    # accepted for the harness's calling convention; every workload runs
    # a fixed schedule instead of a clock-driven one (see README.md)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "ethereum_etl_spark", "session.py")):
        print("perfbench: run from the repository root (ethereum_etl_spark/ not found)",
              file=sys.stderr)
        return 2

    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub))
    result_path = os.path.join(work, "result.json")

    env = dict(os.environ)
    # Spark forks Python workers from ethereum_etl_spark.daemon_preload
    # (session.get_spark), so the package must be importable by them
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, env.get("PYTHONPATH", "")) if p
    )
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    env["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    env.pop("SPARK_GRAFT_CPUS", None)  # cores are fixed by the workload
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    env["TMPDIR"] = os.path.join(work, "tmp")
    # the spark-submit launcher JVM: no hsperfdata or temp files in /tmp
    env["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={env['TMPDIR']}"

    cmd = [
        sys.executable, os.path.join(HERE, "workload.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--trace", str(args.trace),
        "--work", work, "--out", result_path,
    ]
    # a stopped launcher still stops its process tree (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    peak = 0
    rc = None
    try:
        proc = subprocess.Popen(
            cmd, env=env, cwd=root, stdout=sys.stderr, start_new_session=True
        )
        try:
            deadline = time.monotonic() + TIMEOUT_S
            while rc is None:
                peak = max(peak, tree_pss_bytes(proc.pid))
                if time.monotonic() > deadline:
                    print("perfbench: timeout", file=sys.stderr)
                    break
                try:
                    rc = proc.wait(timeout=SAMPLE_S)
                except subprocess.TimeoutExpired:
                    pass
        finally:
            stop_session(proc.pid)
            if proc.poll() is None:
                proc.wait()
        if rc != 0 or not os.path.exists(result_path):
            print(f"perfbench: workload process exited with {rc}", file=sys.stderr)
            return 1
        with open(result_path) as f:
            result = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if args.trace == 0:
        result["metrics"]["peak_rss_mb"] = {"value": peak / 2**20, "unit": "MB"}
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
