"""Layer spans and counts for the traced run.

The tracer wraps the public functions of each layer from outside the
program: every module of ``potoos_spark`` that holds a reference to a
wrapped function gets the wrapper, and ``uninstall()`` puts the originals
back. A wrapper opens a span (name, start, end, parent span, call id),
tags the Spark jobs it triggers with a job group of its own, and
materializes a DataFrame result at the boundary (``persist`` + ``count``)
so the layer's work is done inside its span and the next layer reads it
from cache. Spans stay in memory until ``write()``.

Spark job, stage and task counts come from ``sc.statusTracker()`` after
the listener bus has drained, so they work with the UI off.
"""

from __future__ import annotations

import importlib
import json
import sys
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame


def drain_listener_bus(sc) -> None:
    """Block until the status store has seen every event posted so far.
    Job events reach it asynchronously, so counts read right after an
    action can be short. ``waitUntilEmpty`` is Spark-internal
    (``private[spark]``) but reachable through py4j."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()


def job_counts(sc, group: str) -> dict:
    """Jobs, executed stages and completed tasks tagged with ``group``."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = set()
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    n_stages = n_tasks = 0
    for s in stages:
        info = st.getStageInfo(s)
        if info is not None and info.numCompletedTasks > 0:
            n_stages += 1
            n_tasks += info.numCompletedTasks
    return {"jobs": len(jobs), "stages": n_stages, "tasks": n_tasks}


@contextmanager
def job_group(sc, group: str, description: str):
    """Tag the jobs run inside the block; restores the enclosing group."""
    prev = sc.getLocalProperty("spark.jobGroup.id")
    prev_desc = sc.getLocalProperty("spark.job.description")
    sc.setJobGroup(group, description)
    try:
        yield
    finally:
        if prev is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(prev, prev_desc or "")


def materialize(df: DataFrame) -> int:
    df.persist()
    return df.count()


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list = []
        self._stack: list = []
        self._patched: list = []
        self.call_id = None

    @contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "call": self.call_id,
            "start": time.perf_counter(),
            "end": None,
            "counts": {},
        }
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            with job_group(self.sc, f"perfbench-span-{rec['id']}", name):
                yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def harvest(self) -> None:
        """Attach Spark job counts to the spans of the current call."""
        drain_listener_bus(self.sc)
        for rec in self.spans:
            if rec["call"] == self.call_id and "jobs" not in rec["counts"]:
                rec["counts"].update(job_counts(self.sc, f"perfbench-span-{rec['id']}"))

    # -- wrapping ---------------------------------------------------------

    def _wrapper(self, fn, name, before=None):
        tracer = self

        def traced(*args, **kwargs):
            pre = {}
            if before is not None:
                args, pre = before(tracer, args)
            with tracer.span(name) as rec:
                rec["counts"].update(pre)
                out = fn(*args, **kwargs)
                if isinstance(out, DataFrame) and not out.isStreaming:
                    rec["counts"]["rows_out"] = materialize(out)
            return out

        traced.__wrapped__ = fn
        return traced

    def install(self, layers) -> None:
        """``layers``: (module, attribute, span name, before-hook or None).
        The attribute may be ``Class.method``."""
        for mod_name, attr, name, before in layers:
            owner = importlib.import_module(mod_name)
            *path, leaf = attr.split(".")
            for p in path:
                owner = getattr(owner, p)
            fn = getattr(owner, leaf)
            wrapped = self._wrapper(fn, name, before)
            targets = [(owner, leaf)]
            # modules that imported the function by name hold their own
            # reference; patch those too
            for m_name, m in list(sys.modules.items()):
                if m_name.startswith("potoos_spark") and m is not owner:
                    for k, v in list(vars(m).items()):
                        if v is fn:
                            targets.append((m, k))
            for obj, key in targets:
                self._patched.append((obj, key, fn))
                setattr(obj, key, wrapped)

    def uninstall(self) -> None:
        for obj, key, fn in reversed(self._patched):
            setattr(obj, key, fn)
        self._patched.clear()

    # -- summaries ----------------------------------------------------------

    def call_summary(self, call_id) -> dict:
        """Per span name within one call: total seconds, self seconds
        (minus direct children), summed counts including descendants'
        Spark job counts."""
        spans = [s for s in self.spans if s["call"] == call_id]
        by_id = {s["id"]: s for s in spans}
        child_s = {s["id"]: 0.0 for s in spans}
        for s in spans:
            if s["parent"] in child_s:
                child_s[s["parent"]] += s["end"] - s["start"]
        out: dict = {}
        for s in spans:
            agg = out.setdefault(s["name"], {"s": 0.0, "self_s": 0.0, "counts": {}})
            dur = s["end"] - s["start"]
            agg["s"] += dur
            agg["self_s"] += dur - child_s[s["id"]]
            for k, v in s["counts"].items():
                agg["counts"][k] = agg["counts"].get(k, 0) + v
        # Spark job counts of descendants roll up into their ancestors
        for s in spans:
            p = s["parent"]
            while p in by_id:
                anc = out[by_id[p]["name"]]["counts"]
                for k in ("jobs", "stages", "tasks"):
                    anc[k] = anc.get(k, 0) + s["counts"].get(k, 0)
                p = by_id[p]["parent"]
        return out

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f, indent=1)
