"""Layer boundaries for the benchmark: untraced and traced.

A workload calls every ``osm_spark`` layer through ``Stages.layer``.
Untraced, ``layer`` just calls it, so Spark plans the pipeline end to
end as a user's program would. Traced, ``layer`` first writes each
DataFrame input to parquet under the run directory and reads it back,
so the span around the call times that layer alone, and then forces the
layer's output inside the span.

Each span runs its Spark jobs in a job group of its own. After the span
ends (outside its timing) the tracer reads that group's jobs, stages
and SQL executions from Spark's status stores, which gives the Python
worker times and bytes, shuffle and spill bytes, job count and GC time
of exactly that layer call.
"""

from __future__ import annotations

import contextlib
import os
import re
import shutil
import statistics
import time

# SQL metric names (PySpark 4.1 PythonSQLMetrics) -> span field
_PY_METRICS = {
    "time to start Python workers": "py_boot_s",
    "time to initialize Python workers": "py_init_s",
    "time to run Python workers": "py_exec_s",
    "data sent to Python workers": "py_bytes",
    "data returned from Python workers": "py_bytes",
}
SPAN_FIELDS = (
    "py_boot_s", "py_init_s", "py_exec_s", "py_bytes",
    "shuffle_bytes", "spill_bytes", "jobs", "gc_s",
)
_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
}
_VALUE = re.compile(r"^([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """A formatted SQL metric -> number in seconds, bytes or units.
    Aggregated metrics read ``total (min, med, max ...)\\n<total> (...)``;
    the total is the first value on the last line."""
    m = _VALUE.match(text.strip().splitlines()[-1])
    if m is None:
        raise ValueError(f"unparsed SQL metric {text!r}")
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


class Stages:
    """Untraced layer calls: lazy, no materialization, no spans."""

    def layer(self, name, fn, *inputs, action=None):
        out = fn(*inputs)
        return action(out) if action else out


class Tracer(Stages):
    """Traced layer calls. Spans (name, id, parent, run, start, end and
    the counters) stay in ``self.spans`` until the run ends."""

    def __init__(self, spark, run_id: str, work_dir: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.work_dir = work_dir
        self.spans: list[dict] = []
        self._stack: list[tuple[str, str]] = []  # (span id, name)
        self._materialized: dict[int, tuple[str, object]] = {}
        self._n_mat = 0
        jsc = self.sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def reset(self) -> None:
        """Drop the materialized inputs (called between iterations)."""
        for path, _df in self._materialized.values():
            shutil.rmtree(path)
        self._materialized.clear()

    def materialize(self, df):
        key = id(df)
        if key not in self._materialized:
            self._n_mat += 1
            path = os.path.join(self.work_dir, f"mat-{self._n_mat}.parquet")
            df.write.parquet(path)
            self._materialized[key] = (path, self.spark.read.parquet(path))
        return self._materialized[key][1]

    def layer(self, name, fn, *inputs, action=None):
        from pyspark.sql import DataFrame

        inputs = [self.materialize(x) if isinstance(x, DataFrame) else x for x in inputs]
        with self.span(name):
            out = fn(*inputs)
            if action is not None:
                return action(out)
            if isinstance(out, DataFrame):
                out.write.format("noop").mode("overwrite").save()
        return out

    @contextlib.contextmanager
    def span(self, name):
        sid = f"{self.run_id}/{len(self.spans)}"
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "id": sid, "parent": parent and parent[0], "run": self.run_id}
        n_exec = self._sql.executionsCount()
        self.sc.setJobGroup(sid, name)
        self._stack.append((sid, name))
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if parent is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            else:
                self.sc.setJobGroup(*parent)
            self.spans.append(rec)
        rec.update(self._counters(sid, int(n_exec)))

    def _counters(self, group: str, n_exec: int) -> dict:
        self._bus.waitUntilEmpty(60_000)
        jobs = set(self.sc.statusTracker().getJobIdsForGroup(group))
        out = dict.fromkeys(SPAN_FIELDS, 0.0)
        out["jobs"] = len(jobs)
        out["join_rows"] = 0
        stages = []
        for j in jobs:
            info = self.sc.statusTracker().getJobInfo(j)
            for s in info.stageIds if info else ():
                st = self._stage(s)
                if st is not None:
                    stages.append(st)
        for st in stages:
            out["shuffle_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.diskBytesSpilled()
            out["gc_s"] += st.jvmGcTime() / 1000.0
        out["task_skew"] = self._skew(stages)
        length = int(self._sql.executionsCount()) - n_exec
        for ex in _seq(self._sql.executionsList(n_exec, max(length, 0))):
            ex_jobs = {int(x) for x in _seq(ex.jobs().keys().toList())}
            if not ex_jobs & jobs:
                continue
            metrics = self._sql.executionMetrics(ex.executionId())
            for node in _seq(self._sql.planGraph(ex.executionId()).allNodes()):
                for m in _seq(node.metrics()):
                    field = _PY_METRICS.get(m.name())
                    is_join = "Join" in node.name() and m.name() == "number of output rows"
                    if field is None and not is_join:
                        continue
                    v = metrics.get(m.accumulatorId())
                    if not v.isDefined():
                        continue
                    if is_join:
                        out["join_rows"] += parse_metric(v.get())
                    else:
                        out[field] += parse_metric(v.get())
        return out

    def _stage(self, stage_id: int):
        from py4j.protocol import Py4JJavaError

        try:
            return self._store.lastStageAttempt(stage_id)
        except Py4JJavaError:  # stage skipped: never submitted, no data
            return None

    def _skew(self, stages) -> float:
        """Slowest / median task of the span's busiest stage of more than
        one task; 1.0 when every stage ran a single task."""
        busy = [s for s in stages if s.numCompleteTasks() > 1]
        if not busy:
            return 1.0
        st = max(busy, key=lambda s: s.executorRunTime())
        tasks = _seq(self._store.taskList(st.stageId(), st.attemptId(), 100_000))
        durs = [t.duration().get() for t in tasks if t.duration().isDefined()]
        if len(durs) < 2 or statistics.median(durs) == 0:
            return 1.0
        return max(durs) / statistics.median(durs)

    def self_time(self, rec: dict) -> float:
        """Span duration minus the time its child spans cover."""
        kids = [s for s in self.spans if s["parent"] == rec["id"]]
        return (rec["end"] - rec["start"]) - sum(k["end"] - k["start"] for k in kids)
