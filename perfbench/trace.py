"""Traced run: per-layer accounting from the benchmark's own files.

:func:`install` wraps the engine's public functions in place, so the
engine itself is unchanged:

* ``session.get_spark``;
* ``load_table`` in every ``stockify_spark`` module that binds the name
  (``registry._t`` looks it up in ``stockify_spark.registry``; modules
  that import it inside a function read ``sources.io.load_table``);
* each ``registry.QUERIES[name]`` builder;
* ``txlog.append``, ``merge_upsert``, ``delete_where``, ``maintain``,
  ``snapshot`` and ``live_files``.

Spark jobs are tagged per operation and phase with ``setJobGroup``
(``<op>:build``, ``<op>:exec``, ``<op>:commit``) and counted through
``statusTracker``. Catalyst phase times come from the executed plan's
``queryExecution().tracker()``. Task metrics (run time, CPU, GC, shuffle
write, spill) come from a local event log that only the traced run
switches on. Spans (name, start, end, parent, operation id) are kept in
memory and written out when the run ends.

Every counter is kept per scope: ``setup``, ``warmup`` (the untimed
warm-up pass), ``timed`` (the measured passes) and ``final``.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import time
from collections import defaultdict

EXEC_TASK_METRICS = {
    "exec.executor_run_s": lambda m: m["Executor Run Time"] / 1e3,
    "exec.executor_cpu_s": lambda m: m["Executor CPU Time"] / 1e9,
    "exec.gc_s": lambda m: m["JVM GC Time"] / 1e3,
    "exec.shuffle_write_bytes": lambda m: m["Shuffle Write Metrics"]["Shuffle Bytes Written"],
    "exec.spill_bytes": lambda m: m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"],
}


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.scope = "setup"
        self.op: str | None = None
        self.group: str | None = None
        self.sc = None
        self.totals: dict[tuple[str, str], float] = defaultdict(float)
        self.op_scope: dict[str, str] = {}

    # -- context -------------------------------------------------------
    def bind(self, spark) -> None:
        self.sc = spark.sparkContext

    def begin_op(self, op: str) -> None:
        self.op = op
        self.op_scope[op] = self.scope

    def phase(self, phase: str) -> None:
        self.group = f"{self.op}:{phase}"
        self.sc.setJobGroup(self.group, phase)

    def clear(self) -> None:
        self.op = self.group = None
        if self.sc is not None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def add(self, metric: str, value: float) -> None:
        self.totals[(self.scope, metric)] += value

    def _jobs(self) -> set[int]:
        if self.sc is None:
            return set()
        return set(self.sc.statusTracker().getJobIdsForGroup(self.group))

    # -- spans ---------------------------------------------------------
    def call(self, metric: str, label: str, fn, args, kwargs, count_jobs: bool):
        before = self._jobs() if count_jobs else None
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        span = {"name": label, "start": time.time(), "end": None,
                "parent": parent, "op": self.op}
        self.spans.append(span)
        self._stack.append(idx)
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            dt = time.perf_counter() - t0
            self._stack.pop()
            span["end"] = span["start"] + dt
            self.add(f"{metric}_s", dt)
            self.add(f"{metric}_calls", 1)
            if count_jobs:
                self.add(f"{metric}_jobs", len(self._jobs() - before))

    def wrap(self, fn, metric: str, label: str | None = None, count_jobs: bool = False):
        if getattr(fn, "_perfbench_traced", False):
            return fn

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            return self.call(metric, label or metric, fn, args, kwargs, count_jobs)

        traced._perfbench_traced = True
        return traced

    # -- per-operation Spark state -------------------------------------
    def record_exec(self, df, action_s: float) -> None:
        """After an action: its time, its jobs/stages/tasks from the
        status tracker and the Catalyst phase times of its plan."""
        self.add("exec.action_s", action_s)
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(self.group)
        stages = tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in (list(info.stageIds) if info else []):
                sinfo = st.getStageInfo(s)
                if sinfo is not None and sinfo.numCompletedTasks > 0:
                    stages += 1
                    tasks += sinfo.numCompletedTasks
        self.add("exec.jobs", len(jobs))
        self.add("exec.stages", stages)
        self.add("exec.tasks", tasks)
        phases = df._jdf.queryExecution().tracker().phases()
        for name in ("analysis", "optimization", "planning"):
            if phases.contains(name):
                p = phases.apply(name)
                self.add(f"catalyst.{name}_s", p.durationMs() / 1e3)

    # -- after the session stops ---------------------------------------
    def read_event_log(self, log_dir: str) -> None:
        """Attribute task metrics to the ``<op>:exec`` job groups."""
        stage_scope: dict[int, str] = {}
        for name in sorted(os.listdir(log_dir)):
            with open(os.path.join(log_dir, name)) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                        op, _, phase = group.rpartition(":")
                        if phase == "exec" and op in self.op_scope:
                            for s in ev["Stage IDs"]:
                                stage_scope[s] = self.op_scope[op]
                    elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stage_scope:
                        m = ev.get("Task Metrics")
                        if not m:
                            continue
                        scope = stage_scope[ev["Stage ID"]]
                        for metric, get in EXEC_TASK_METRICS.items():
                            self.totals[(scope, metric)] += get(m)

    def write_spans(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")

    def scoped(self, scope: str, metric: str, per: float = 1.0) -> float:
        return self.totals.get((scope, metric), 0.0) / per


def install(tracer: Tracer) -> None:
    """Wrap the engine's public functions (see module docstring)."""
    from stockify_spark import registry, session
    from stockify_spark.sources import io, txlog

    session.get_spark = tracer.wrap(session.get_spark, "session.get_spark")
    original = io.load_table
    traced_load = tracer.wrap(original, "sources.io.load_table", count_jobs=True)
    for mod in list(sys.modules.values()):
        if getattr(mod, "__name__", "").startswith("stockify_spark") and \
                getattr(mod, "load_table", None) is original:
            mod.load_table = traced_load
    for name, fn in list(registry.QUERIES.items()):
        registry.QUERIES[name] = tracer.wrap(fn, "registry.build", f"registry.build:{name}",
                                             count_jobs=True)
    for fname in ("append", "merge_upsert", "delete_where", "maintain", "snapshot", "live_files"):
        setattr(txlog, fname, tracer.wrap(getattr(txlog, fname), f"sources.txlog.{fname}"))
