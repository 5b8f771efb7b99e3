"""Benchmark entry point.

    python3 perfbench/run.py --workload first_load --seed 1 --seconds 16 --trace 0

Run from the root of a checkout. Workloads and metrics are declared in
``BENCHMARK.json`` and described in ``perfbench/README.md``.

This process sets up an isolated run directory under
``.perfbench_runs/`` (CSVs, warehouse, ``TMPDIR``, ``SPARK_LOCAL_DIRS``,
the JVM's ``java.io.tmpdir``). It starts ``worker.py`` in a session of
its own, with the repo root on ``PYTHONPATH`` and ``SPARK_GRAFT_CPUS``
set to the usable core count. It waits for the worker and for every
process the worker started, removes the run directory, and prints the
result as one JSON line, last on stdout.
Exits non-zero without a result if the worker fails or the checkout
lacks the program.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
TIME_LIMIT_S = 170
PR_SET_CHILD_SUBREAPER = 36
sys.path.insert(0, str(HERE))

from metrics import END_TO_END, PER_LAYER  # noqa: E402


def _check_spec() -> None:
    """The checkout must hold the program, and BENCHMARK.json must
    declare the metrics this benchmark reports."""
    needed = [ROOT / "python_etl_pipeline_spark" / "pipeline.py",
              ROOT / "tools" / "gen_banking_csv.py",
              ROOT / "tools" / "parity.py"]
    missing = [str(p.relative_to(ROOT)) for p in needed if not p.is_file()]
    if missing:
        sys.exit(f"perfbench: program files missing: {missing}")
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    for key, want in (("end_to_end", END_TO_END), ("per_layer", PER_LAYER)):
        got = {m["name"]: m["unit"] for m in spec[key]}
        if got != want:
            sys.exit(f"perfbench: BENCHMARK.json {key} differs from "
                     f"perfbench/metrics.py: {sorted(set(got) ^ set(want))}")


def _session_pids(sid: int) -> list[int]:
    """Live processes in session ``sid``. The PySpark daemon moves into
    a process group of its own, but it stays in the worker's session."""
    pids = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited meanwhile
        state, session = fields[0], int(fields[3])
        if session == sid and state != "Z":
            pids.append(int(d))
    return pids


def _reap(sid: int, timeout: float = 20.0) -> None:
    """Kill whatever is left of the worker's session and wait until
    every child of this process has exited and been collected. Orphans
    of the session are re-parented here (see ``main``)."""
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        for pid in _session_pids(sid):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return  # no children left
        time.sleep(0.1)


def main() -> int:
    t0 = time.monotonic()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    _check_spec()
    # become the parent of the worker's orphans (the JVM, once the
    # worker is killed), so _reap can wait for them
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int, ctypes.c_ulong, ctypes.c_ulong,
                           ctypes.c_ulong, ctypes.c_ulong]
    libc.prctl.restype = ctypes.c_int
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        sys.exit(f"perfbench: prctl: {os.strerror(ctypes.get_errno())}")

    run_dir = ROOT / ".perfbench_runs" / f"{a.workload}-{a.seed}-{os.getpid()}"
    tmp = run_dir / "tmp"
    (tmp / "spark-local").mkdir(parents=True)
    cpus = len(os.sched_getaffinity(0))
    # JVM temp files and perf counters stay in the run directory too
    env = dict(os.environ, PYTHONPATH=str(ROOT), TMPDIR=str(tmp),
               SPARK_LOCAL_DIRS=str(tmp / "spark-local"),
               SPARK_GRAFT_CPUS=str(cpus),
               SPARK_SUBMIT_OPTS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    out = run_dir / "result.json"
    log = run_dir / "worker.log"
    cmd = [sys.executable, str(HERE / "worker.py"),
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--run-dir", str(run_dir), "--out", str(out)]
    if a.trace:
        cmd += ["--spans", str(ROOT / ".perfbench_out" /
                               f"spans-{a.workload}-{a.seed}.jsonl")]
    try:
        with open(log, "w") as lf:
            proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=lf,
                                    stderr=subprocess.STDOUT,
                                    start_new_session=True)
            try:
                code = proc.wait(timeout=TIME_LIMIT_S - (time.monotonic() - t0))
            except subprocess.TimeoutExpired:
                code = None
            finally:
                _reap(proc.pid)
        result = json.loads(out.read_text()) if code == 0 else None
        if result is None or not result["correct"]:
            tail = log.read_text().splitlines()[-60:]
            print("\n".join(tail), file=sys.stderr)
        if result is not None:
            for line in result["log"]:
                print(f"perfbench: {line}", file=sys.stderr)
            for e in result["errors"]:
                print(f"perfbench: check failed: {e}", file=sys.stderr)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if result is None:
        why = "timed out" if code is None else f"exited {code}"
        print(f"perfbench: worker {why}", file=sys.stderr)
        return 1
    print(json.dumps({k: result[k] for k in
                      ("correct", "attempted", "failed", "metrics")}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
