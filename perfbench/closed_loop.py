"""One benchmark run in a fresh process, started by ``run.py``.

Generates the workload's inputs from the seed, starts the Spark session
(``local[k]``, k = the CPUs this process may use), runs one unmeasured
warm-up operation, then runs operations back to back, one client, for
``--seconds`` seconds: a closed loop. Every operation checks its
outputs; an exception, a timeout or a failed check counts as a failed
operation. The result goes to ``--result`` as JSON.

The loop runs rounds: untraced (``--trace 0``) a bulk operation followed
by the workload's ``cycles_per_round`` replication cycles; traced
(``--trace 1``) an untraced bulk operation, a traced one and traced
cycles, reporting per-layer metrics and the tracing overhead. It stops
once ``--seconds`` have passed and, untraced, the workload's ``rounds``
are done.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import threading
import time
import traceback

from spans import SPAN_FIELDS, Stages, Tracer
from workloads import WORKLOADS

OP_TIMEOUT_S = 90
SETTLE_MAX_S = 10
CLK_TCK = os.sysconf("SC_CLK_TCK")
# time metric of each layer span; the span name is the metric prefix
SPAN_TIME = {
    "sources.pbf": "sources.pbf.decode_s",
    "sources.warc": "sources.warc.decode_s",
    "geo.tiles.assign": "geo.tiles.assign_s",
    "geo.tiles.rollup": "geo.tiles.rollup_s",
    "geo.pip": "geo.pip.join_s",
    "text.extract": "text.extract_s",
    "text.dedup.exact": "text.dedup.exact_s",
    "text.dedup.minhash": "text.dedup.minhash_s",
    "text.dedup.lsh": "text.dedup.lsh_s",
    "text.topk": "text.topk_s",
    "temporal.annotate": "temporal.annotate_s",
    "streaming.apply": "streaming.apply_s",
    "pipeline.incremental.delta": "pipeline.incremental.delta_s",
    "pipeline.table.merge": "pipeline.table.merge_s",
}
# counters a workload reports; 0 where the workload does not call the layer
COUNTERS = (
    "sources.pbf.rows", "sources.warc.rows", "geo.pip.matches",
    "text.dedup.candidates", "text.dedup.recall", "temporal.annotate.slots",
    "temporal.annotate.rows_out", "streaming.actions",
    "pipeline.table.files_rewritten", "pipeline.table.files_carried",
    "pipeline.table.write_amp",
)


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and all its
    descendants: the PySpark driver, the driver JVM and its Python
    workers. A descendant that has exited counts through its parent's
    cutime/cstime once reaped. The hypervisor's steal is not in it."""
    children: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # it exited while we looked
            continue
        children.setdefault(int(fields[1]), []).append(int(d))
        ticks[int(d)] = sum(int(x) for x in fields[11:15])  # u, s, cu, cs time
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total / CLK_TCK


class Loop:
    def __init__(self, spark, workload):
        self.sc = spark.sparkContext
        self.workload = workload
        self.attempted = 0
        self.failed = 0
        self.reset()

    def reset(self) -> None:
        """Forget the recorded times (the warm-up's)."""
        self.times: dict[str, list[float]] = {"bulk": [], "cycle": [], "traced": []}
        self.cpu: dict[str, list[float]] = {"bulk": [], "cycle": [], "traced": []}

    def op(self, kind: str, fn, stages) -> None:
        """Run one operation and record its wall and CPU time; count it,
        and count it failed when it raises, times out or fails a check."""
        timer = threading.Timer(OP_TIMEOUT_S, self.sc.cancelAllJobs)
        timer.start()
        cpu = tree_cpu_s()
        t = time.perf_counter()
        try:
            bad = fn(stages)
        except Exception:  # the loop must go on and report the failure
            traceback.print_exc()
            bad = ["raised"]
        finally:
            timer.cancel()
        dt = time.perf_counter() - t
        self.cpu[kind].append(tree_cpu_s() - cpu)
        if dt >= OP_TIMEOUT_S:
            bad.append("timed out")
        self.attempted += 1
        if bad:
            self.failed += 1
            print(f"{self.workload.name} {kind} failed: {bad}", file=sys.stderr)
        self.times[kind].append(dt)


def per_layer(tracer: Tracer, workload, loop: Loop, start_s, warmup_s, gen_s) -> dict:
    """Per-layer metrics: medians over the traced spans of each layer (0
    where the workload does not call the layer), the workload's counters,
    and the tracing overhead."""
    out = {"session.start_s": start_s, "session.warmup_s": warmup_s, "bench.gen_s": gen_s}
    for span, metric in SPAN_TIME.items():
        recs = [s for s in tracer.spans if s["name"] == span]

        def med(value):
            return statistics.median(value(s) for s in recs) if recs else 0.0

        out[metric] = med(lambda s: s["end"] - s["start"])
        for f in SPAN_FIELDS:
            out[f"{span}.{f}"] = med(lambda s: s[f])
        if span == "geo.pip":
            out["geo.pip.task_skew"] = med(lambda s: s["task_skew"])
            out["geo.pip.candidates"] = med(lambda s: s["join_rows"])
    out.update(dict.fromkeys(COUNTERS, 0))
    out.update(workload.counts)
    cand = out["geo.pip.candidates"]
    out["geo.pip.precision"] = out["geo.pip.matches"] / cand if cand else 0.0
    iters = [s for s in tracer.spans if s["name"] == "iteration"]
    out["trace.iter_self_s"] = statistics.median(tracer.self_time(s) for s in iters)
    traced = statistics.median(loop.times["traced"])
    out["trace.rows_per_s"] = workload.rows / traced
    out["trace.overhead"] = traced / statistics.median(loop.times["bulk"])
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--t0", type=float, required=True, help="launch time (epoch s)")
    ap.add_argument("--work-dir", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--spans", default="", help="write traced spans here (JSON lines)")
    args = ap.parse_args(argv)

    k = len(os.sched_getaffinity(0))
    t = time.time()
    workload = WORKLOADS[args.workload](args.work_dir, args.seed)
    gen_s = time.time() - t

    from osm_spark.session import get_spark

    t = time.time()
    spark = get_spark(
        f"perfbench-{args.workload}",
        master=f"local[{k}]",
        shuffle_partitions=k,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )
    start_s = time.time() - t
    spark.sparkContext.setLogLevel("ERROR")
    try:
        t = time.time()
        workload.start(spark)
        prepare_s = time.time() - t
        loop = Loop(spark, workload)
        untraced = Stages()
        t = time.time()
        loop.op("bulk", workload.bulk, untraced)
        if workload.cycles_per_round:
            loop.op("cycle", workload.cycle, untraced)
        settle_s = _settle(spark)
        warmup_s = time.time() - t
        setup_s = time.time() - args.t0 - gen_s
        warmup_times = loop.times
        loop.reset()

        tracer = Tracer(spark, f"{args.workload}-{args.seed}", args.work_dir) if args.trace else None
        t_loop = time.perf_counter()
        rounds = 0
        # a traced round runs the bulk operation twice, so one is enough
        min_rounds = 1 if tracer else workload.rounds
        while True:
            loop.op("bulk", workload.bulk, untraced)
            if tracer:
                tracer.reset()
                with tracer.span("iteration"):
                    loop.op("traced", workload.bulk, tracer)
            for _ in range(workload.cycles_per_round):
                if tracer:
                    tracer.reset()
                    with tracer.span("cycle"):
                        loop.op("cycle", workload.cycle, tracer)
                else:
                    loop.op("cycle", workload.cycle, untraced)
            rounds += 1
            if rounds >= min_rounds and time.perf_counter() - t_loop >= args.seconds:
                break
        if workload.cycles_per_round:
            bad = workload.final_check()
            if bad:
                loop.failed += 1
                print(f"{args.workload} final check failed: {bad}", file=sys.stderr)

        cyc = "cycle" if workload.cycles_per_round else "bulk"
        result = {
            "attempted": loop.attempted,
            "failed": loop.failed,
            "info": {
                "workload": args.workload, "seed": args.seed, "k": k,
                "gen_s": gen_s, "rows": workload.rows, "start_s": start_s,
                "prepare_s": prepare_s, "warmup_op_s": warmup_times, "settle_s": settle_s,
                "fail_frac": loop.failed / loop.attempted,
                "op_s": loop.times, "op_cpu_s": loop.cpu,
                "rows_per_s": workload.rows / statistics.median(loop.times["bulk"]),
                "cycle_s": statistics.median(loop.times[cyc]),
            },
        }
        if tracer:
            result["metrics"] = per_layer(tracer, workload, loop, start_s, warmup_s, gen_s)
            if args.spans:
                with open(args.spans, "w") as f:
                    for s in tracer.spans:
                        f.write(json.dumps(s) + "\n")
        else:
            result["metrics"] = {
                "setup_s": setup_s,
                "rows_per_cpu_s": workload.rows / statistics.median(loop.cpu["bulk"]),
                "cycle_cpu_s": statistics.median(loop.cpu[cyc]),
            }
    finally:
        _stop(spark)
    with open(args.result, "w") as f:
        json.dump(result, f)
    return 0


def _settle(spark) -> float:
    """After the warm-up: collect the JVM heap and wait until the JIT
    compiler has been idle for a second (at most ``SETTLE_MAX_S``), so the
    first timed operation does not share the CPUs with compiler threads
    still working through the warm-up's backlog. Returns the time taken."""
    t = time.time()
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    jit = jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
    last, idle_since = jit.getTotalCompilationTime(), time.time()
    while time.time() - idle_since < 1.0 and time.time() - t < SETTLE_MAX_S:
        time.sleep(0.2)
        now = jit.getTotalCompilationTime()
        if now != last:
            last, idle_since = now, time.time()
    return time.time() - t


def _stop(spark) -> None:
    """Stop the session, then close the JVM's stdin (which ends it) and
    wait for it, so its peak RSS reaches this process's
    RUSAGE_CHILDREN."""
    import subprocess

    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


if __name__ == "__main__":
    sys.exit(main())
