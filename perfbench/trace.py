"""Spans and Spark counters recorded from outside the package.

A span wraps one call into a layer of the program. It records name,
start, end, parent span and run id, and — through a job group of its
own — the jobs, stages and tasks Spark ran inside it, plus the stage
metrics of Spark's status store (executor CPU and run time, GC, shuffle
write, spill). Nested spans get their own job group, so every count
belongs to exactly one span (its self counts). Spark updates its status
store from a listener bus on another thread, so a span drains the bus
before it reads the counters; the wait is tracing overhead.

With tracing off, ``span`` only yields: no job groups, no status-store
reads, no records.
"""

from __future__ import annotations

import functools
import itertools
import json
import sys
import time
import types
from contextlib import contextmanager

#: per-span counters read from Spark
COUNTERS = ("jobs", "stages", "tasks", "cpu_s", "executor_run_s", "gc_s",
            "shuffle_write_bytes", "spill_bytes")


class Tracer:
    def __init__(self, spark, enabled: bool, run_id: str):
        self.spark = spark
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self.overhead_s = 0.0
        self._ids = itertools.count(1)
        self._stack: list[dict] = []
        self._store = None

    def bind(self, spark) -> None:
        """Trace jobs of ``spark``."""
        self.spark = spark
        self._store = None

    @contextmanager
    def span(self, name: str, root: bool = False):
        """Record a span. Outside any open span only a ``root`` span is
        recorded, so calls made while checking outputs stay untraced."""
        if not self.enabled or not (root or self._stack):
            yield
            return
        t0 = time.perf_counter()
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        rec = {"id": next(self._ids), "name": name, "run_id": self.run_id,
               "parent": parent["id"] if parent else None}
        rec["group"] = f"perfbench-{self.run_id}-{rec['id']}"
        sc.setJobGroup(rec["group"], name)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        self.overhead_s += rec["start"] - t0
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(parent["group"], parent["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            self._drain()
            rec.update(self._counters(rec["group"]))
            self.spans.append(rec)
            self.overhead_s += time.perf_counter() - rec["end"]

    def wrap(self, fn, name: str):
        """``fn`` with every call inside a span named ``name``."""
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    def _drain(self) -> None:
        """Wait until the listener bus has delivered every event posted
        so far, so the status tracker and store know each job and stage
        the span ran."""
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    def _status_store(self):
        if self._store is None:
            self._store = self.spark.sparkContext._jsc.sc().statusStore()
        return self._store

    def _counters(self, group: str) -> dict:
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        out = dict.fromkeys(COUNTERS, 0)
        job_ids = tracker.getJobIdsForGroup(group)
        out["jobs"] = len(job_ids)
        if not job_ids:
            return out
        gw = sc._gateway
        no_status = gw.jvm.java.util.ArrayList()
        no_quantiles = gw.new_array(gw.jvm.double, 0)
        store = self._status_store()
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else ()):
                for st in _iter_seq(store.stageData(int(sid), False,
                                                    no_status, False,
                                                    no_quantiles)):
                    if st.status().toString() != "COMPLETE":
                        continue
                    out["stages"] += 1
                    out["tasks"] += st.numCompleteTasks()
                    out["cpu_s"] += st.executorCpuTime() / 1e9
                    out["executor_run_s"] += st.executorRunTime() / 1e3
                    out["gc_s"] += st.jvmGcTime() / 1e3
                    out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                    out["spill_bytes"] += (st.memoryBytesSpilled()
                                           + st.diskBytesSpilled())
        return out

    # ------------------------------------------------------------------
    # summaries

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the time its child spans cover."""
        child = dict.fromkeys((s["id"] for s in self.spans), 0.0)
        for s in self.spans:
            if s["parent"] in child:
                child[s["parent"]] += s["end"] - s["start"]
        return {s["id"]: (s["end"] - s["start"]) - child[s["id"]]
                for s in self.spans}

    def totals(self, name: str, inclusive: bool = False) -> dict:
        """Summed duration and counters over spans called ``name``. The
        counters are the spans' own, or with ``inclusive`` their whole
        subtree's."""
        out = dict.fromkeys(("seconds", "calls", *COUNTERS), 0)
        children: dict = {}
        for s in self.spans:
            children.setdefault(s["parent"], []).append(s)
        for s in self.spans:
            if s["name"] != name:
                continue
            out["seconds"] += s["end"] - s["start"]
            out["calls"] += 1
            todo = [s]
            while todo:
                node = todo.pop()
                for c in COUNTERS:
                    out[c] += node[c]
                if inclusive:
                    todo.extend(children.get(node["id"], ()))
        return out

    def layer_self_seconds(self) -> dict[str, float]:
        """Layer (name up to the first dot) -> summed self time."""
        out: dict[str, float] = {}
        for sid, secs in self.self_times().items():
            name = next(s["name"] for s in self.spans if s["id"] == sid)
            layer = name.split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + secs
        return out

    def write(self, path) -> None:
        """Write every span, with its self time, as JSON lines."""
        selfs = self.self_times()
        with open(path, "w", encoding="utf-8") as fh:
            for s in self.spans:
                fh.write(json.dumps({**s, "self_s": selfs[s["id"]]}) + "\n")


def _iter_seq(seq):
    """Iterate a Scala ``Seq`` returned over py4j."""
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def patch_module_functions(tracer: Tracer, package: str,
                           targets: dict) -> None:
    """Trace calls into the public functions in ``targets`` (function ->
    span name) from every loaded module of ``package``: each module
    attribute bound to one of those functions is replaced by a traced
    wrapper, so calls made inside the package are seen too."""
    wrapped = {fn: tracer.wrap(fn, name) for fn, name in targets.items()}
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not mod_name.startswith(package):
            continue
        for attr, value in list(vars(mod).items()):
            if isinstance(value, types.FunctionType) and value in wrapped:
                setattr(mod, attr, wrapped[value])
