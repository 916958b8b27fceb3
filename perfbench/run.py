"""Run one benchmark workload and print its metrics as one JSON line.

Usage, from the repository root:

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics plus ``trace_overhead``, and writes the run's spans and per-query
layer profile to ``perfbench/.work/out/``. Workloads are listed in
``perfbench/workloads.py``.

This process generates the seeded inputs (``gen.py``), prepares a private
scratch area under ``perfbench/.work`` and runs ``worker.py`` in a fresh
process on ``local[nproc]``. Everything the run reads or writes stays
inside the repository. Exits non-zero, without a result line, when the
engine sources (``hadoop_spark/``) are not beside it.
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

ROOT = os.getcwd()
BENCH = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(BENCH, ".work")
DEADLINE_S = 170.0
# Well below the memory of a small host: the engine's 24g default is not.
DRIVER_MEM = "3g"


def _group_alive(pgid: int) -> bool:
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def _reap(proc: subprocess.Popen) -> None:
    """Stop the worker's whole process group (JVM, Python workers, pipes)
    and wait until every member has ended."""
    for sig, grace in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            pass
        end = time.monotonic() + grace
        while time.monotonic() < end:
            if proc.poll() is not None and not _group_alive(proc.pid):
                return
            time.sleep(0.1)
    proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="Run one perfbench workload.")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    started = time.monotonic()

    if not os.path.isfile(os.path.join(ROOT, "hadoop_spark", "__init__.py")):
        print("perfbench: no hadoop_spark/ in the current directory; run from the repository root", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import gen
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    data, digest, gen_s = gen.cached(os.path.join(WORK, "data"), WORKLOADS[args.workload]["factor"], args.seed)
    print(f"perfbench: inputs {data} digest {digest[:16]} generated in {gen_s:.2f}s", file=sys.stderr)

    # Fresh scratch: Spark's local dirs, temp files, and the program's own
    # per-input scratch (.tmp/*/<input dir name>), which the write
    # queries start from.
    local, tmp = os.path.join(WORK, "local"), os.path.join(WORK, "tmp")
    for d in (local, tmp):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    scratch = os.path.join(ROOT, ".tmp")
    tag = os.path.basename(data)
    for sub in os.listdir(scratch) if os.path.isdir(scratch) else ():
        shutil.rmtree(os.path.join(scratch, sub, tag), ignore_errors=True)

    cpus = str(len(os.sched_getaffinity(0)))
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        PYSPARK_PYTHON=sys.executable,
        SPARK_GRAFT_CPUS=cpus,
        SPARK_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        # Every JVM of the run (the launcher and the driver) keeps its
        # temp files in the run's scratch and writes no /tmp/hsperfdata.
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    )
    trace_out = os.path.join(WORK, "out", f"trace-{args.workload}-s{args.seed}.json")
    cmd = [
        sys.executable,
        os.path.join(BENCH, "worker.py"),
        f"--workload={args.workload}",
        f"--data={data}",
        f"--seconds={args.seconds}",
        f"--trace={args.trace}",
        f"--trace-out={trace_out}",
        f"--deadline={DEADLINE_S - (time.monotonic() - started) - 5.0:.0f}",
    ]
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=max(1.0, DEADLINE_S - (time.monotonic() - started)))
    except subprocess.TimeoutExpired:
        print("perfbench: worker exceeded the deadline", file=sys.stderr)
        return 1
    finally:
        _reap(proc)
    lines = [ln for ln in out.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines:
        print(f"perfbench: worker exited with {proc.returncode}", file=sys.stderr)
        return 1
    result = json.loads(lines[-1])
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
