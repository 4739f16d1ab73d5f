"""Spans and per-layer accounting around the engine's public calls.

`Off` is the untraced mode: calls run as written and DataFrames stay
lazy, so the end-to-end timings see the engine's own plans. `Tracer`
records one span per call (name, start, end, parent, operation id),
times construction and execution separately, and counts the Spark jobs
and tasks each call ran through a job group read back from the status
tracker. A traced call materializes its output at the layer boundary:
small outputs are collected and handed to the next layer as a local
DataFrame, large ones (the chunk table during ingest) are cached in the
executors. Spans stay in memory until `dump`.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import time
from collections import defaultdict

# Run phases, in the order per-layer metrics prefer them: the measured
# operations, the set-up, the coverage pass through the layers the
# workload does not touch, and the coverage pass's churn cycle.
PHASES = ("measure", "setup", "coverage", "churn")


class Off:
    collecting = False
    phase = "setup"

    def call(self, name, build):
        return build()

    def run(self, name, fn):
        return fn()

    def rows(self, df):
        return df.collect()

    def op(self, name):
        return contextlib.nullcontext()


class Tracer:
    collecting = True

    def __init__(self, spark):
        self.phase = "setup"  # one of PHASES; the run moves it on
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._op_id = 0
        self._group = 0
        self._groups: list[str] = []
        self._rows: dict[int, list] = {}
        self._cached: list = []

    # -- spans ---------------------------------------------------------
    def _open(self, name: str) -> dict:
        span = {
            "id": len(self.spans),
            "name": name,
            "op": self._op_id,
            "phase": self.phase,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
        }
        self.spans.append(span)
        self._stack.append(span["id"])
        return span

    def _close(self, span: dict) -> None:
        span["end"] = time.perf_counter()
        self._stack.pop()

    def op(self, name: str):
        """Span for one benchmark operation; layer spans nest under it."""
        tracer = self

        class _Op:
            def __enter__(self):
                tracer._op_id += 1
                self.span = tracer._open(name)
                return self

            def __exit__(self, *exc):
                tracer._close(self.span)
                tracer._release()
                return False

        return _Op()

    def _jobs_begin(self, name: str) -> str:
        """Tag the Spark jobs of a call with a fresh job group."""
        self._group += 1
        gid = f"pb-{self._group}"
        self._groups.append(gid)
        self.sc.setJobGroup(gid, name)
        return gid

    def _jobs_end(self, span: dict, gid: str) -> None:
        """Hand job tagging back to the enclosing call, if any."""
        self._groups.pop()
        if self._groups:
            self.sc.setJobGroup(self._groups[-1], "")
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        span["group"] = gid

    # -- layer calls ---------------------------------------------------
    def call(self, name: str, build, large: bool = False):
        """Construct a lazy DataFrame, then materialize it at the layer
        boundary: collected and handed on as a local DataFrame, or, for
        a `large` output, cached in the executors. Returns a DataFrame
        over the materialized rows."""
        span = self._open(name)
        gid = self._jobs_begin(name)
        try:
            df = build()
            t1 = time.perf_counter()
            span["construct_s"] = t1 - span["start"]
            if large:
                out = df.persist()
                span["rows"] = out.count()
                self._cached.append(out)
            else:
                rows = df.collect()
                span["rows"] = len(rows)
                out = self.spark.createDataFrame(rows, df.schema)
                self._rows[id(out)] = rows
            span["execute_s"] = time.perf_counter() - t1
        finally:
            self._jobs_end(span, gid)
            self._close(span)
        return out

    def run(self, name: str, fn):
        """An eager call (writes, index builds): all of it is execution."""
        span = self._open(name)
        gid = self._jobs_begin(name)
        try:
            result = fn()
            span["execute_s"] = time.perf_counter() - span["start"]
        finally:
            self._jobs_end(span, gid)
            self._close(span)
        return result

    def rows(self, df):
        rows = self._rows.get(id(df))
        return rows if rows is not None else df.collect()

    def _release(self) -> None:
        for df in self._cached:
            df.unpersist()
        self._cached.clear()
        self._rows.clear()

    # -- accounting ----------------------------------------------------
    def resolve_jobs(self) -> None:
        """Fill jobs/tasks for spans whose job group has not been read
        yet. Status updates arrive through Spark's listener bus, so wait
        for it to drain first."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        st = self.sc.statusTracker()
        for span in self.spans:
            gid = span.pop("group", None)
            if gid is None:
                continue
            jobs = st.getJobIdsForGroup(gid)
            tasks = 0
            for jid in jobs:
                info = st.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    si = st.getStageInfo(sid)
                    if si is not None:
                        tasks += si.numCompletedTasks
            span["jobs"] = len(jobs)
            span["tasks"] = tasks

    def self_times(self) -> dict:
        """Per span name: calls, total and self seconds (duration minus
        the part covered by child spans)."""
        children = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]] += s["end"] - s["start"]
        table: dict[str, dict] = {}
        for s in self.spans:
            dur = s["end"] - s["start"]
            row = table.setdefault(s["name"], {"calls": 0, "total_s": 0.0, "self_s": 0.0})
            row["calls"] += 1
            row["total_s"] += dur
            row["self_s"] += dur - children[s["id"]]
        return table

    def layer_metrics(self) -> dict:
        """`<layer>.{construct_s,execute_s,jobs,tasks}`: per-call medians
        over the layer's calls in the first phase of PHASES it ran in, so
        a layer that also ran in a later pass (the churn cycle's ingest,
        its batched answer) keeps the meaning of its first calls."""
        values = defaultdict(lambda: defaultdict(list))
        for s in self.spans:
            for k in ("construct_s", "execute_s", "jobs", "tasks"):
                if k in s:
                    values[f"{s['name']}.{k}"][s["phase"]].append(s[k])
        return {
            k: statistics.median(next(v[p] for p in PHASES if v[p]))
            for k, v in values.items()
        }

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump(
                {"spans": self.spans, "self_time": self.self_times(), **extra},
                fh,
                indent=1,
                default=str,
            )
