"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload crawl_geotile --seed 1 --seconds 10 --trace 0

Starts ``closed_loop.py`` in a fresh process with the checkout on its
``PYTHONPATH`` (so Spark's Python workers import ``osm_spark`` too) and
every scratch path (Spark local dirs, JVM and Python temp files, inputs)
inside a per-run directory under ``.perfbench/``, which is removed at
exit. After the child and every process it left behind have ended,
reports the peak RSS of the largest of them, the driver JVM, from
``getrusage(RUSAGE_CHILDREN)``.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``; the metrics are the
``end_to_end`` entries of ``BENCHMARK.json`` untraced and its
``per_layer`` entries traced. The line before it carries run facts
(local[k], generation time, every operation's wall and CPU time). Exits 1 with
no result line when the run could not produce one.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import resource
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CHILD_TIMEOUT_S = 160
HEAP_MB = 2048
REAP_GRACE_S = 10
PR_SET_CHILD_SUBREAPER = 36


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _reap_all(deadline: float) -> None:
    """Wait for every descendant re-parented to this process (Python
    workers outliving the JVM); kill whatever outlives ``deadline``."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.time() > deadline:
            for p in _children():
                os.kill(p, signal.SIGKILL)
            deadline = float("inf")
        time.sleep(0.1)


def _stop(child: subprocess.Popen) -> None:
    """Kill the child's process group (the JVM and the Python workers)."""
    os.killpg(child.pid, signal.SIGKILL)
    child.wait()


def _children() -> list[int]:
    me = os.getpid()
    out = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            if ppid == me:
                out.append(int(d))
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec = _spec()
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        ap.error(f"unknown workload {args.workload!r}")
    declared = spec["per_layer" if args.trace else "end_to_end"]

    runs = os.path.join(ROOT, ".perfbench")
    work = os.path.join(runs, f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    shutil.rmtree(work, ignore_errors=True)  # left by an earlier run with this pid
    os.makedirs(tmp)
    result_path = os.path.join(work, "result.json")
    spans_path = (
        os.path.join(runs, f"spans-{args.workload}-{args.seed}.jsonl") if args.trace else ""
    )
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join([ROOT, HERE, os.environ.get("PYTHONPATH", "")]).rstrip(os.pathsep),
        PYSPARK_PYTHON=sys.executable,
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        # a fixed, pre-touched 2 GiB driver heap: peak RSS is then that
        # heap plus everything off-heap, not an accident of GC timing.
        # The JIT stops at its first tier (C1): an operation here is a few
        # dozen small Spark jobs, and under C2 the JIT kept compiling for
        # 15-30 CPU-s per operation for the whole run, so the timed
        # operations drifted down by 10-35%; C1 settles within the
        # warm-up (see README, Time budget).
        SPARK_DRIVER_MEM=f"{HEAP_MB}m",
        SPARK_DRIVER_JAVA_OPTS=f"-Xms{HEAP_MB}m -XX:+AlwaysPreTouch -XX:TieredStopAtLevel=1",
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    )
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    # on SIGTERM, unwind through the finally below, which stops the run
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    child = None
    try:
        t0 = time.time()
        cmd = [
            sys.executable, os.path.join(HERE, "closed_loop.py"),
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--t0", repr(t0), "--work-dir", work, "--result", result_path,
            "--spans", spans_path,
        ]
        child = subprocess.Popen(
            cmd, cwd=work, env=env, stdout=sys.stderr, start_new_session=True
        )
        try:
            child.wait(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            _stop(child)
        _reap_all(time.time() + REAP_GRACE_S)
        peak_mb = resource.getrusage(resource.RUSAGE_CHILDREN).ru_maxrss / 1024.0
        if child.returncode != 0 or not os.path.exists(result_path):
            print(f"run failed: child exit code {child.returncode}", file=sys.stderr)
            return 1
        with open(result_path) as f:
            res = json.load(f)
    finally:
        if child is not None and child.poll() is None:
            _stop(child)
            _reap_all(time.time() + REAP_GRACE_S)
        shutil.rmtree(work, ignore_errors=True)

    values = dict(res["metrics"], peak_rss_mb=peak_mb)
    missing = [m["name"] for m in declared if m["name"] not in values]
    if missing:
        print(f"run produced no value for {missing}", file=sys.stderr)
        return 1
    print(json.dumps(res["info"]))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {
            m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
