"""Benchmark entry point.

    python3 perfbench/run.py --workload batch_session --seed 1 --seconds 6 --trace 0

Run from the root of a checkout. It generates the workload's inputs
from ``--seed`` under ``.bench_work/`` (untimed), then starts
``worker.py`` in a fresh process with the run's environment:
``SPARK_GRAFT_CPUS`` = the machine's core count, ``PYTHONPATH`` = the
checkout (Python workers import the package), Spark's scratch and temp
dirs inside the run dir, console progress off and, with ``--trace 1``,
a plain JSON event log. The worker's last stdout line is the result
line; it is printed last here too. The run dir is removed at the end
and every process of the run is stopped.

Exits non-zero without a result when the engine package is missing,
when the worker fails, or after ``TIMEOUT_S``.
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
ROOT = os.path.dirname(HERE)
PKG = "forest_open_data_pipelines_spark"
WORKLOADS = ("batch_session", "stream_refresh")
TIMEOUT_S = 170


def _group_alive(pgid: int) -> bool:
    """Whether a process of group ``pgid`` still runs (zombies, which
    have ended, do not count)."""
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def _stop_group(pgid: int) -> None:
    """Kill what is left of the worker's process group and wait until
    it is gone (the JVM and the Python workers it forked)."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        if not _group_alive(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        for _ in range(50):
            if not _group_alive(pgid):
                return
            time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size relative to the default (smoke test)")
    ap.add_argument("--corrupt", action="store_true",
                    help="corrupt one checked output (checker self-test)")
    a = ap.parse_args()
    # a SIGTERM unwinds through the ``finally`` below, which stops the
    # worker's process group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"perfbench: no {PKG} package in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    import gen

    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    proc = None
    try:
        data = os.path.join(work, "data")
        info = gen.generate(a.workload, a.seed, data, a.scale)
        for name, t in info.items():
            print(f"# input {name}: {t['rows']} rows, {t['bytes']} bytes", file=sys.stderr)
        inputs = os.path.join(work, "inputs.json")
        with open(inputs, "w") as fh:
            json.dump(info, fh)
        tmp = os.path.join(work, "tmp")
        event_log = os.path.join(work, "eventlog")
        for d in (tmp, event_log):
            os.makedirs(d)
        submit = ["--conf", "spark.ui.showConsoleProgress=false"]
        if a.trace:
            submit += [
                "--conf", "spark.eventLog.enabled=true",
                "--conf", f"spark.eventLog.dir=file://{event_log}",
                "--conf", "spark.eventLog.compress=false",
                "--conf", "spark.eventLog.rolling.enabled=false",
            ]
        env = dict(
            os.environ,
            SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),  # as nproc
            SPARK_GRAFT_WAREHOUSE=os.path.join(work, "warehouse"),
            SPARK_LOCAL_DIRS=os.path.join(work, "local"),
            PYTHONPATH=os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
            PYSPARK_PYTHON=sys.executable,
            PYSPARK_SUBMIT_ARGS=" ".join(submit + ["pyspark-shell"]),
            JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            TMPDIR=tmp,
        )
        # the engine runs with get_spark's own defaults, whatever the
        # caller's environment says
        for var in ("OMP_NUM_THREADS", "SPARK_GRAFT_DRIVER_MEM"):
            env.pop(var, None)
        cmd = [
            sys.executable, os.path.join(HERE, "worker.py"),
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--data", data, "--work", work, "--inputs", inputs,
            "--event-log", event_log, "--spawn", repr(time.time()),
        ] + (["--corrupt"] if a.corrupt else [])
        proc = subprocess.Popen(
            cmd, env=env, cwd=ROOT, stdout=subprocess.PIPE, text=True,
            start_new_session=True,
        )
        try:
            out, _ = proc.communicate(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            print(f"perfbench: run exceeded {TIMEOUT_S}s", file=sys.stderr)
            return 3
        lines = [ln for ln in out.splitlines() if ln.strip()]
        if proc.returncode != 0 or not lines:
            sys.stdout.write(out)
            print(f"perfbench: worker exited {proc.returncode}", file=sys.stderr)
            return proc.returncode or 1
        result = json.loads(lines[-1])
        sys.stdout.write("\n".join(lines[:-1] + [""]) if len(lines) > 1 else "")
        print(json.dumps(result), flush=True)
        return 0
    finally:
        if proc is not None:
            if proc.poll() is None:
                proc.kill()
            proc.wait()
            _stop_group(proc.pid)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    raise SystemExit(main())
