"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload cdc_drain --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Starts ``driver.py`` with its temporary
files, Spark scratch space and generated inputs under ``.perfbench/`` in
the checkout; waits for it, stops every process it left behind (found by
a marker in their environment), removes the scratch directory and prints the
result as the last line of standard output. Exits non-zero without a
result when the program is missing, the driver fails or the run exceeds
its time limit. With ``--trace 1`` the spans of the run are kept in
``.perfbench/traces/``.
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
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

from probe import host_ticks  # noqa: E402

TIME_LIMIT = 170  # seconds for the whole run, stop included


def marked(tag: str) -> list[int]:
    """Processes whose environment carries ``PERFBENCH_RUN=<tag>``: the
    driver and everything it started, including the Python worker daemon
    that Spark moves into a process group of its own."""
    needle = f"PERFBENCH_RUN={tag}".encode()
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit() or int(name) == os.getpid():
            continue
        try:
            with open(f"/proc/{name}/environ", "rb") as fh:
                if needle in fh.read().split(b"\0"):
                    out.append(int(name))
        except OSError:  # exited, or not ours to read
            continue
    return out


def stop_all(tag: str) -> None:
    """SIGTERM, then SIGKILL, every marked process; return once none is
    left (or after a bounded wait)."""
    for sig, wait in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 20.0)):
        pids = marked(tag)
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + wait
        while marked(tag) and time.monotonic() < deadline:
            time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t0 = time.monotonic()
    ticks0 = host_ticks()
    # a SIGTERM unwinds through the cleanup below instead of orphaning Spark
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not (ROOT / "hybrid_cdc_demo_spark" / "__init__.py").is_file():
        print(f"perfbench: no hybrid_cdc_demo_spark package under {ROOT}", file=sys.stderr)
        return 2

    base = ROOT / ".perfbench"
    work = base / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    result_path = work / "result.json"
    log_path = work / "driver.log"
    cmd = [
        sys.executable,
        str(HERE / "driver.py"),
        "--workload", args.workload,
        "--seed", str(args.seed),
        "--seconds", str(args.seconds),
        "--trace", str(args.trace),
        "--work", str(work),
        "--t0", repr(t0),
        "--ticks0", ",".join(map(str, ticks0)),
        "--result", str(result_path),
    ]
    if args.trace:
        (base / "traces").mkdir(exist_ok=True)
        cmd += ["--spans", str(base / "traces" / f"{args.workload}-seed{args.seed}.json")]
    env = dict(
        os.environ,
        TMPDIR=str(work / "tmp"),
        SPARK_LOCAL_DIRS=str(work / "spark-local"),
        SPARK_GRAFT_CPUS="4",
        PYSPARK_PYTHON=sys.executable,
        PYTHONUNBUFFERED="1",
        PERFBENCH_RUN=str(work),
    )
    ok = False
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(
                cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL,
            )
            try:
                code = proc.wait(timeout=max(1.0, TIME_LIMIT - (time.monotonic() - t0)))
                ok = code == 0 and result_path.is_file()
                if not ok:
                    print(f"perfbench: driver exited with code {code}", file=sys.stderr)
            except subprocess.TimeoutExpired:
                print(f"perfbench: run exceeded {TIME_LIMIT} s", file=sys.stderr)
            finally:
                stop_all(str(work))
                proc.wait()
        if not ok:
            lines = log_path.read_text(errors="replace").splitlines()
            print("\n".join(lines[-40:]), file=sys.stderr)
            return 1
        for line in log_path.read_text(errors="replace").splitlines():
            if line.startswith("perfbench:"):
                print(line, file=sys.stderr)
        result = json.loads(result_path.read_text())
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
