"""Spans around the engine's layer boundaries, from outside the engine.

The tracer wraps the public functions of each layer while it is
installed and takes them out again when it is removed, so untraced
passes run the program untouched:

- ``tables.load_table`` on every module that holds a binding to it;
- the builder call and the final ``noop`` write (opened by the caller);
- ``DataFrame.localCheckpoint``/``checkpoint`` and driver actions made
  while a builder is open;
- ``dedup_index.gate_and_fold_text_batch`` and
  ``phash_index.gate_and_fold_batch``, which the ``foreachBatch``
  closures look up as module globals;
- the public functions of ``fs``.

Each span records the Spark job-id range launched while it was open.
After a call, :meth:`Tracer.end_call` drains the listener bus and reads
those jobs and their stages from Spark's live status store, and the
trigger phases a ``StreamingQueryListener`` collected.
"""

from __future__ import annotations

import functools
import itertools
import sys
import threading
import time
from contextlib import contextmanager
from datetime import datetime

from pyspark.sql.classic.dataframe import DataFrame
from pyspark.sql.streaming.listener import StreamingQueryListener

PACKAGE = "data_lake_project_spark"

CUT_METHODS = ("localCheckpoint", "checkpoint")
ACTION_METHODS = (
    "collect", "count", "first", "head", "take", "toPandas", "isEmpty",
    "toLocalIterator", "show",
)


class TriggerListener(StreamingQueryListener):
    """Records the phase durations of every micro-batch."""

    def __init__(self):
        self.lock = threading.Lock()
        self.progress: list[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        d = p.durationMs or {}
        start = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00"))
        rec = {
            "start_ms": start.timestamp() * 1000.0,
            "trigger_ms": d.get("triggerExecution", 0),
            "add_batch_ms": d.get("addBatch", 0),
            "plan_ms": d.get("queryPlanning", 0),
            "commit_ms": d.get("walCommit", 0) + d.get("commitOffsets", 0),
            "rows": p.numInputRows,
        }
        with self.lock:
            self.progress.append(rec)

    def take(self, lo_ms: float, hi_ms: float) -> list[dict]:
        """Remove and return the triggers that started in [lo_ms, hi_ms]."""
        with self.lock:
            keep, out = [], []
            for t in self.progress:
                (out if lo_ms <= t["start_ms"] <= hi_ms else keep).append(t)
            self.progress = keep
        return out


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self._sc = spark.sparkContext._jsc.sc()
        self._jvm = spark.sparkContext._jvm
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []
        self._root: dict | None = None  # the open builder span
        self._call_spans: list[dict] = []
        self._call_name = ""
        self._call_start_ms = 0.0
        self.listener = TriggerListener()
        self.spans: list[dict] = []  # every finished span of the run

    # -- job ids --------------------------------------------------------
    def next_job_id(self) -> int:
        return int(self._sc.dagScheduler().nextJobId())

    # -- spans ----------------------------------------------------------
    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, layer: str):
        """Open a span unless this thread already is inside one of the
        same layer (a layer's internal calls to its own public functions
        are part of the outer call)."""
        stack = self._stack()
        if any(s["layer"] == layer for s in stack):
            yield
            return
        parent = stack[-1] if stack else self._root
        s = {
            "id": next(self._ids),
            "name": name,
            "layer": layer,
            "parent": parent["id"] if parent else None,
            "call": self._root["call"] if self._root else None,
            "job_lo": self.next_job_id(),
            "start": time.perf_counter(),
        }
        stack.append(s)
        try:
            yield
        finally:
            s["end"] = time.perf_counter()
            s["job_hi"] = self.next_job_id()
            stack.pop()
            with self._lock:
                self._call_spans.append(s)

    @contextmanager
    def build(self, call_name: str):
        """The builder span; spans opened on other threads (streaming
        ``foreachBatch`` bodies) while it is open become its children."""
        with self.span(call_name, "queries.build"):
            self._root = self._stack()[-1]
            try:
                yield
            finally:
                self._root = None

    def begin_call(self, name: str) -> None:
        self._call_spans = []
        self._call_name = name
        self._call_start_ms = time.time() * 1000.0

    def end_call(self) -> dict:
        """Read the call's jobs, stages and triggers; returns the record
        ``stats.call_sums`` takes."""
        end_ms = time.time() * 1000.0
        self._sc.listenerBus().waitUntilEmpty(60_000)
        spans = self._call_spans
        lo = min(s["job_lo"] for s in spans)
        hi = max(s["job_hi"] for s in spans)
        jobs, stages = self._read_jobs(range(lo, hi))
        triggers = self.listener.take(self._call_start_ms, end_ms)
        self.spans.extend(spans)
        return {
            "name": self._call_name,
            "spans": spans,
            "jobs": jobs,
            "stages": stages,
            "triggers": triggers,
        }

    # -- status store ---------------------------------------------------
    def _read_jobs(self, ids) -> tuple[list[dict], dict[int, dict]]:
        store = self._sc.statusStore()
        no_status = self._jvm.java.util.ArrayList()
        no_quantiles = self.spark.sparkContext._gateway.new_array(
            self._jvm.double, 0
        )
        jobs, stages = [], {}
        for jid in ids:
            jd = store.job(jid)
            sub, done = jd.submissionTime(), jd.completionTime()
            seq = jd.stageIds()
            sids = [int(seq.apply(i)) for i in range(seq.size())]
            jobs.append(
                {
                    "id": jid,
                    "submit_ms": sub.get().getTime() if sub.isDefined() else 0,
                    "end_ms": done.get().getTime() if done.isDefined() else 0,
                    "stages": sids,
                }
            )
            for sid in sids:
                if sid in stages:
                    continue
                attempts = store.stageData(
                    sid, False, no_status, False, no_quantiles
                )
                rec = dict.fromkeys(
                    ("run_ms", "cpu_ms", "gc_ms", "shuffle_read",
                     "shuffle_write", "spill", "input", "failed_tasks",
                     "tasks"),
                    0,
                )
                rec["executed"] = False
                for i in range(attempts.size()):
                    sd = attempts.apply(i)
                    if sd.status().toString() not in ("COMPLETE", "FAILED"):
                        continue
                    rec["executed"] = True
                    rec["run_ms"] += sd.executorRunTime()
                    rec["cpu_ms"] += sd.executorCpuTime() / 1e6
                    rec["gc_ms"] += sd.jvmGcTime()
                    rec["shuffle_read"] += sd.shuffleReadBytes()
                    rec["shuffle_write"] += sd.shuffleWriteBytes()
                    rec["spill"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                    rec["input"] += sd.inputBytes()
                    rec["failed_tasks"] += sd.numFailedTasks()
                    rec["tasks"] += sd.numTasks()
                stages[sid] = rec
        return jobs, stages

    # -- wrappers -------------------------------------------------------
    def _wrap(self, fn, name: str, layer: str, only_in_build: bool = False):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if only_in_build and tracer._root is None:
                return fn(*args, **kwargs)
            with tracer.span(name, layer):
                return fn(*args, **kwargs)

        return wrapper

    def _patch_everywhere(self, fn, name: str, layer: str) -> None:
        """Replace every module-level binding of ``fn`` in the package."""
        wrapper = self._wrap(fn, name, layer)
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith(PACKAGE):
                continue
            for attr, val in list(vars(mod).items()):
                if val is fn:
                    self._patches.append((mod, attr, val))
                    setattr(mod, attr, wrapper)

    def install(self) -> None:
        from data_lake_project_spark import fs, tables
        from data_lake_project_spark.multimodal import phash_index
        from data_lake_project_spark.operators import dedup_index

        self._patch_everywhere(tables.load_table, "load_table", "tables")
        self._patch_everywhere(
            dedup_index.gate_and_fold_text_batch,
            "gate_and_fold_text_batch",
            "dedup_index",
        )
        self._patch_everywhere(
            phash_index.gate_and_fold_batch, "gate_and_fold_batch", "phash_index"
        )
        for attr, val in list(vars(fs).items()):
            if (
                callable(val)
                and not attr.startswith("_")
                and getattr(val, "__module__", None) == fs.__name__
            ):
                self._patch_everywhere(val, f"fs.{attr}", "fs")
        for meth in CUT_METHODS + ACTION_METHODS:
            layer = "queries.cut" if meth in CUT_METHODS else "queries.collect"
            orig = DataFrame.__dict__.get(meth, getattr(DataFrame, meth))
            self._patches.append((DataFrame, meth, DataFrame.__dict__.get(meth)))
            setattr(DataFrame, meth, self._wrap(orig, meth, layer, only_in_build=True))
        self.spark.streams.addListener(self.listener)

    def uninstall(self) -> None:
        self.spark.streams.removeListener(self.listener)
        for owner, attr, val in reversed(self._patches):
            if val is None:
                delattr(owner, attr)
            else:
                setattr(owner, attr, val)
        self._patches = []
