"""Span tracer for the benchmark's traced run.

A span is one call at a layer boundary: a package function wrapped at
the name its caller imports, a benchmark step, or a pyspark action
(``collect``, ``count``, ``localCheckpoint``). Each span records name,
start, end, parent and the run id of the operation it belongs to, and
sets a Spark job group of its own so that the status store can
attribute jobs, stages, tasks, executor time, shuffle and spill to it.

Spans stay in memory; :meth:`Tracer.collect_op` reads the Spark
counters for one finished operation (outside its timed region) and
:meth:`Tracer.write` writes every span out when the run ends.

Off (``Tracer(None)``), :meth:`span` is a no-op context manager and
nothing is wrapped.
"""

from __future__ import annotations

import contextlib
import functools
import json
import re
import time
from pathlib import Path

_SIZE_RE = re.compile(r"([\d.,]+)\s*(B|KiB|MiB|GiB|TiB)\b")
_SIZE_UNIT = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_PY_METRIC_RE = re.compile(
    r"SQLPlanMetric\((?:data sent to Python workers|data returned from Python workers),(\d+),"
)
_ACTIONS = ("collect", "count", "localCheckpoint")


def parse_size(text: str) -> float:
    """Bytes in a Spark SQL size-metric string. Multi-task metrics read
    ``total (min, med, max ...)\\n<total> (...)``; the total is the
    first size after the header."""
    body = text.split("\n", 1)[-1]
    m = _SIZE_RE.search(body)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _SIZE_UNIT[m.group(2)]


class _Traced:
    """A wrapped package function. Pickles as the original so that a
    closure shipped to a Python worker never carries the tracer."""

    def __init__(self, tracer, module, attr, name, orig):
        self._tracer, self._module, self._attr = tracer, module, attr
        self._name, self._orig = name, orig
        functools.update_wrapper(self, orig, updated=())

    def __call__(self, *args, **kwargs):
        with self._tracer.span(self._name):
            return self._orig(*args, **kwargs)

    def __reduce__(self):
        return (getattr, (self._module, self._attr))


class Tracer:
    """Records spans when given a SparkSession; does nothing with None."""

    def __init__(self, spark, keep_results: tuple[str, ...] = ()):
        self.on = spark is not None
        self.spans: list[dict] = []
        self.run_id = None
        self._stack: list[dict] = []
        self._targets: list[tuple] = []
        self._restore: list[tuple] = []
        self._keep = set(keep_results)
        self.results: dict[int, object] = {}
        self.block_samples: list[float] = []
        if self.on:
            sc = spark.sparkContext
            self._sc = sc
            self._status = sc._jsc.sc().statusStore()
            self._sql = spark._jsparkSession.sharedState().statusStore()
            self._jvm = sc._jvm
            self._t_off = time.time() - time.perf_counter()

    # -- recording -------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str):
        if not self.on:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = {
            "id": len(self.spans), "name": name, "run_id": self.run_id,
            "parent": parent["id"] if parent else None,
        }
        self.spans.append(sp)
        self._stack.append(sp)
        gid = f"span-{sp['id']}"
        sp["group"] = gid
        self._sc.setJobGroup(gid, name)
        sp["t0"] = time.perf_counter()
        try:
            yield sp
        finally:
            sp["t1"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self._sc.setJobGroup(self._stack[-1]["group"], self._stack[-1]["name"])
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)

    def wrap(self, module, attr: str, name: str) -> None:
        """Span every call of ``module.attr`` while the tracer is
        started."""
        self._targets.append((module, attr, name))

    def start(self) -> None:
        """Install the wrappers: the registered package functions and
        the pyspark actions every layer ends in. Each action records
        the planning phases of the query it ran, the SQL executions it
        started and a block-store sample when it returns."""
        if not self.on:
            return
        from pyspark.sql.classic.dataframe import DataFrame

        for module, attr, name in self._targets:
            orig = getattr(module, attr)
            setattr(module, attr, _Traced(self, module, attr, name, orig))
            self._restore.append((module, attr, orig))
        for attr in _ACTIONS:
            orig = getattr(DataFrame, attr)

            def action(df, *a, _orig=orig, _name=f"spark.{attr}", **k):
                with self.span(_name) as sp:
                    sp["sql0"] = self._sql.executionsCount()
                    out = _orig(df, *a, **k)
                    sp["sql1"] = self._sql.executionsCount()
                    sp["planning_ms"] = self._planning_ms(df)
                    if _name in self._keep:
                        self.results[sp["id"]] = out
                self._sample_blocks()
                return out

            functools.update_wrapper(action, orig)
            setattr(DataFrame, attr, action)
            self._restore.append((DataFrame, attr, orig))

    def stop(self) -> None:
        for module, attr, orig in reversed(self._restore):
            setattr(module, attr, orig)
        self._restore.clear()

    def _planning_ms(self, df) -> float:
        phases = df._jdf.queryExecution().tracker().phases()
        total = 0.0
        for k in ("analysis", "optimization", "planning"):
            o = phases.get(k)
            if o.isDefined():
                total += o.get().durationMs()
        return total

    def _sample_blocks(self) -> None:
        infos = self._sc._jsc.sc().getRDDStorageInfo()
        self.block_samples.append(
            sum(i.memSize() + i.diskSize() for i in infos) / 2**20
        )

    # -- Spark counters, read after an operation ends ---------------
    def collect_op(self, run_id) -> None:
        """Attach Spark job/stage counters to every span of ``run_id``."""
        if not self.on:
            return
        tracker = self._sc.statusTracker()
        empty_q = self._sc._gateway.new_array(self._jvm.double, 0)
        empty_l = self._jvm.java.util.ArrayList()
        for sp in self.spans:
            if sp["run_id"] != run_id or "jobs" in sp:
                continue
            jobs = sorted(tracker.getJobIdsForGroup(sp["group"]))
            sp["jobs"] = len(jobs)
            agg = dict.fromkeys(
                ("stages", "tasks", "failed_tasks", "run_ms", "cpu_ms",
                 "shuffle_write", "shuffle_read", "spill", "input_bytes"), 0.0)
            stages = []
            for j in jobs:
                ids = self._status.job(j).stageIds()
                for i in range(ids.size()):
                    sd = self._status.stageData(ids.apply(i), False, empty_l, False, empty_q)
                    if sd.size() == 0:
                        continue
                    d = sd.apply(sd.size() - 1)
                    if d.status().toString() == "SKIPPED":
                        continue
                    agg["stages"] += 1
                    agg["tasks"] += d.numTasks()
                    agg["failed_tasks"] += d.numFailedTasks()
                    agg["run_ms"] += d.executorRunTime()
                    agg["cpu_ms"] += d.executorCpuTime() / 1e6
                    agg["shuffle_write"] += d.shuffleWriteBytes()
                    agg["shuffle_read"] += d.shuffleReadBytes()
                    agg["spill"] += d.memoryBytesSpilled() + d.diskBytesSpilled()
                    agg["input_bytes"] += d.inputBytes()
                    t_sub, t_end = d.submissionTime(), d.completionTime()
                    dur = (
                        t_end.get().getTime() - t_sub.get().getTime()
                        if t_sub.isDefined() and t_end.isDefined() else 0
                    )
                    stages.append((dur, d.stageId(), d.attemptId()))
            sp.update(agg)
            sp["longest_stage"] = max(stages) if stages else None
            if "sql0" in sp:
                sp["python_bytes"] = self._python_bytes(sp["sql0"], sp["sql1"])

    def _python_bytes(self, first: int, end: int) -> float:
        total = 0.0
        if end <= first:
            return total
        execs = self._sql.executionsList(first, end - first)
        for i in range(execs.size()):
            e = execs.apply(i)
            # one call for every metric's (name, accumulator id)
            ids = _PY_METRIC_RE.findall(e.metrics().toString())
            if not ids:
                continue
            values = self._sql.executionMetrics(e.executionId())
            for acc in ids:
                v = values.get(int(acc))
                if v.isDefined():
                    total += parse_size(v.get())
        return total

    def task_skew(self, stage: tuple) -> float:
        """Max over median task duration of one ``(dur, id, attempt)``
        stage."""
        q = self._sc._gateway.new_array(self._jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        s = self._status.taskSummary(stage[1], stage[2], q)
        if not s.isDefined():
            return 1.0
        d = s.get().duration()
        med = d.apply(0)
        return d.apply(1) / med if med > 0 else 1.0

    # -- output ----------------------------------------------------
    def epoch(self, t: float) -> float:
        return t + self._t_off

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with path.open("w") as f:
            for sp in self.spans:
                rec = {k: v for k, v in sp.items() if k not in ("sql0", "sql1")}
                if "t0" in rec:
                    rec["start"] = self.epoch(rec.pop("t0"))
                    rec["end"] = self.epoch(rec.pop("t1"))
                f.write(json.dumps(rec) + "\n")


def children(spans: list[dict]) -> dict:
    out: dict = {}
    for sp in spans:
        out.setdefault(sp["parent"], []).append(sp)
    return out


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_time(sp: dict, kids: dict) -> float:
    """A span's duration minus the part of it its child spans cover."""
    return (sp["t1"] - sp["t0"]) - covered(
        [(c["t0"], c["t1"]) for c in kids.get(sp["id"], ())]
    )


def subtree(sp: dict, kids: dict) -> list[dict]:
    out, todo = [], [sp]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s["id"], ()))
    return out



def layer_table(spans: list[dict]) -> str:
    """One row per span name: calls, wall (inclusive), self time and
    the Spark counters of the jobs the span itself launched."""
    kids = children(spans)
    rows: dict[str, dict] = {}
    for sp in spans:
        if "t1" not in sp:
            continue
        r = rows.setdefault(sp["name"], dict.fromkeys(
            ("calls", "wall_ms", "self_ms", "jobs", "stages", "tasks", "run_ms",
             "cpu_ms", "planning_ms", "shuffle_w_mb", "spill_mb"), 0.0))
        r["calls"] += 1
        r["wall_ms"] += (sp["t1"] - sp["t0"]) * 1e3
        r["self_ms"] += self_time(sp, kids) * 1e3
        for k in ("jobs", "stages", "tasks", "run_ms", "cpu_ms", "planning_ms"):
            r[k] += sp.get(k, 0)
        r["shuffle_w_mb"] += sp.get("shuffle_write", 0) / 2**20
        r["spill_mb"] += sp.get("spill", 0) / 2**20
    cols = ["calls", "wall_ms", "self_ms", "jobs", "stages", "tasks", "run_ms",
            "cpu_ms", "planning_ms", "shuffle_w_mb", "spill_mb"]
    width = max([len(n) for n in rows] + [5])
    lines = [f"{'layer':<{width}} " + " ".join(f"{c:>12}" for c in cols)]
    for name, r in sorted(rows.items(), key=lambda kv: -kv[1]["self_ms"]):
        lines.append(
            f"{name:<{width}} " + " ".join(f"{r[c]:>12.1f}" for c in cols)
        )
    return "\n".join(lines)
