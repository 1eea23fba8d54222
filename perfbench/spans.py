"""Spans and exact Spark counts, recorded from outside the engine.

A :class:`Tracer` wraps the benchmark's calls into each layer of the package
in spans (name, start, end, parent, request id) kept in memory, and routes the
Spark jobs each span starts into a job group of its own
(``SparkContext.setJobGroup``). After a pass the groups are resolved through
``statusTracker()`` and the application status store into exact job, task,
shuffle-write and input-record counts.

These calls inside the package are wrapped in a traced run, so their cost
is attributed to the right layer without touching the package:

* ``sources.readers.read_table`` / ``read_table_balanced`` — rebound in every
  loaded package module that imported them by name, ``readers`` included; a
  read made inside another traced read (``read_table_balanced`` calls
  ``read_table``) opens no span of its own, so each table read is counted
  and timed once;
* ``DataFrame.localCheckpoint`` / ``checkpoint`` — counted per span;
* ``streaming.versioned.write_snapshot`` / ``read_snapshot``.

When the tracer is inactive every hook is a plain pass-through.
"""

from __future__ import annotations

import itertools
import os
import sys
import threading
import time
from contextlib import contextmanager

PACKAGE = "projet_data_infrastructure_spark"


class Span:
    __slots__ = ("name", "req", "parent", "start", "end", "child_s", "group", "attrs")

    def __init__(self, name: str, req: str | None, parent: Span | None):
        self.name = name
        self.req = req
        self.parent = parent
        self.start = time.perf_counter()
        self.end = self.start
        self.child_s = 0.0
        self.group: str | None = None
        self.attrs: dict = {}

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        """Duration minus the part its child spans cover."""
        return self.duration - self.child_s


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.active = False
        self.spans: list[Span] = []
        self._local = threading.local()
        self._groups = itertools.count()
        self._seen_stages: set[int] = set()
        self._unpatch: list = []

    # -- spans -------------------------------------------------------------
    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, req: str | None = None, jobs: bool = False):
        """Record a span; with ``jobs`` its Spark jobs go to a fresh group."""
        if not self.active:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        sp = Span(name, req if req is not None else (parent.req if parent else None), parent)
        sc = self.spark.sparkContext
        prev_group = sc.getLocalProperty("spark.jobGroup.id") if jobs else None
        if jobs:
            sp.group = f"perfbench-{next(self._groups)}"
            sc.setJobGroup(sp.group, name)
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            if parent is not None:
                parent.child_s += sp.duration
            if jobs:
                sc.setLocalProperty("spark.jobGroup.id", prev_group)
            self.spans.append(sp)

    def bump(self, key: str) -> None:
        """Count one event on the innermost open span."""
        if self.active:
            stack = self._stack()
            if stack:
                stack[-1].attrs[key] = stack[-1].attrs.get(key, 0) + 1

    # -- exact Spark counts --------------------------------------------------
    def resolve_groups(self, spans: list[Span]) -> None:
        """Fill ``jobs``/``tasks``/``shuffle_write_bytes``/``input_records``
        on each span that owns a job group. Run between passes: it waits for
        the listener bus so the status store has seen every job end."""
        sc = self.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        for sp in spans:
            if sp.group is None or "jobs" in sp.attrs:
                continue
            job_ids = tracker.getJobIdsForGroup(sp.group)
            tasks = shuffle = records = 0
            for j in job_ids:
                info = tracker.getJobInfo(j)
                for sid in (info.stageIds if info else []):
                    if sid in self._seen_stages:
                        continue
                    self._seen_stages.add(sid)
                    st = store.lastStageAttempt(sid)
                    if st.status().toString() != "COMPLETE":
                        continue
                    tasks += st.numCompleteTasks()
                    shuffle += st.shuffleWriteBytes()
                    records += st.inputRecords()
            sp.attrs.update(jobs=len(job_ids), tasks=tasks,
                            shuffle_write_bytes=shuffle, input_records=records)

    # -- hooks into the package ------------------------------------------
    def install(self) -> None:
        """Wrap the package calls named in the module docstring. Call after
        the plan modules are imported; a no-op for an untraced run."""
        if not self.enabled or self._unpatch:
            return
        from pyspark.sql.classic.dataframe import DataFrame

        from projet_data_infrastructure_spark.sources import readers
        from projet_data_infrastructure_spark.streaming import versioned

        tracer = self

        def wrap_read(fn):
            def read_table(spark, sf_dir, name):
                if any(sp.name == "sources.read_table" for sp in tracer._stack()):
                    return fn(spark, sf_dir, name)
                with tracer.span("sources.read_table", jobs=True):
                    return fn(spark, sf_dir, name)
            return read_table

        def wrap_count(fn, key):
            def counted(*args, **kwargs):
                tracer.bump(key)
                return fn(*args, **kwargs)
            return counted

        def wrap_write(fn):
            def write_snapshot(df, table_path):
                with tracer.span("streaming.versioned.write") as sp:
                    version = fn(df, table_path)
                if sp is not None:
                    sp.attrs["bytes"] = _dir_bytes(os.path.join(table_path, f"v={version}"))
                return version
            return write_snapshot

        def wrap_read_snapshot(fn):
            def read_snapshot(spark, table_path, version=None):
                with tracer.span("streaming.versioned.read") as sp:
                    df = fn(spark, table_path, version)
                if sp is not None:
                    sp.attrs["files"] = len(df.inputFiles())
                return df
            return read_snapshot

        replacements = {
            readers.read_table: wrap_read(readers.read_table),
            readers.read_table_balanced: wrap_read(readers.read_table_balanced),
            versioned.write_snapshot: wrap_write(versioned.write_snapshot),
            versioned.read_snapshot: wrap_read_snapshot(versioned.read_snapshot),
        }
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(PACKAGE):
                continue
            for attr, value in list(vars(mod).items()):
                try:
                    new = replacements.get(value)
                except TypeError:  # unhashable module attribute
                    continue
                if new is not None:
                    setattr(mod, attr, new)
                    self._unpatch.append((mod, attr, value))
        for meth in ("localCheckpoint", "checkpoint"):
            orig = getattr(DataFrame, meth)
            setattr(DataFrame, meth, wrap_count(orig, "checkpoints"))
            self._unpatch.append((DataFrame, meth, orig))

    def close(self) -> None:
        for owner, attr, value in reversed(self._unpatch):
            setattr(owner, attr, value)
        self._unpatch.clear()


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(path)
        for f in files
    )


def spans_json(spans: list[Span]) -> list[dict]:
    ids = {id(sp): i for i, sp in enumerate(spans)}
    return [
        {
            "id": ids[id(sp)],
            "name": sp.name,
            "req": sp.req,
            "parent": ids.get(id(sp.parent)) if sp.parent is not None else None,
            "start": round(sp.start, 6),
            "end": round(sp.end, 6),
            **sp.attrs,
        }
        for sp in spans
    ]
