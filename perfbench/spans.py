"""Spans and Spark job counts for the traced run.

Spans are recorded from the benchmark's side only: the benchmark wraps, by
reference, the public calls of each layer it crosses (``DatasetCatalog``
snapshot reads, ``SnapshotTable.write``, the ``sources.fs`` listing and
ingest constructors, and the DataFrame actions).  A wrapper records a span
only while the tracer is active, so untraced ops pay one flag test per call.
Spans stay in memory and are written out once, at the end of the run.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int  # index into Tracer.spans, -1 for an op's root span
    op: int


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.active = False
        self.spans: list[Span] = []
        self.op_counts: dict[int, dict[str, int]] = {}
        self._stack: list[int] = []
        self._op = -1
        self._restore: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ spans

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self._op))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def count(self, key: str, n: int) -> None:
        if self.active:
            c = self.op_counts.setdefault(self._op, {})
            c[key] = c.get(key, 0) + n

    def _wrap(self, owner, attr: str, name: str, after=None) -> None:
        orig = getattr(owner, attr)
        tracer = self

        def wrapped(*args, **kwargs):
            if not tracer.active:
                return orig(*args, **kwargs)
            with tracer.span(name):
                out = orig(*args, **kwargs)
            if after is not None:
                after(args, out)
            return out

        self._restore.append((owner, attr, orig))
        setattr(owner, attr, wrapped)

    def install(self) -> None:
        """Wrap the layer boundaries by reference (undone by ``uninstall``)."""
        from pyspark.sql import DataFrameWriter
        from pyspark.sql.classic.dataframe import DataFrame

        from dronedb_spark.catalog import store

        def snapshot_bytes(args, _out):
            table = args[0]
            with open(os.path.join(table.base, "CURRENT")) as fh:
                self.count("bytes_written", dir_bytes(os.path.join(table.base, fh.read().strip())))

        self._wrap(store.DatasetCatalog, "entries", "catalog.store.entries")
        self._wrap(store.SnapshotTable, "write", "catalog.snapshot_write", after=snapshot_bytes)
        # store.py binds these names at import; wrapping them there is what
        # add()/sync()/rescan() call
        self._wrap(store, "list_files_df", "sources.list_files")
        self._wrap(store, "ingest_listing", "sources.ingest_listing")
        for attr in ("collect", "count", "localCheckpoint", "toPandas"):
            self._wrap(DataFrame, attr, "spark.exec")
        for attr in ("parquet", "save"):
            self._wrap(DataFrameWriter, attr, "spark.exec")

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()

    # ------------------------------------------------------------ ops

    @contextmanager
    def op(self, op_id: int, name: str):
        """One op: a root span plus a Spark job group unique to this op
        (a reused group name would make getJobIdsForGroup accumulate)."""
        if not self.active:
            yield
            return
        sc = self.spark.sparkContext
        group = f"perfbench-op-{op_id}"
        self._op = op_id
        sc.setJobGroup(group, name)
        try:
            with self.span(name):
                yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            self._op = -1
        self._count_jobs(op_id, group)

    def _count_jobs(self, op_id: int, group: str) -> None:
        sc = self.spark.sparkContext
        # the status store is fed by the listener bus; drain it so the
        # counts of the op's last job are complete
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        c = self.op_counts.setdefault(op_id, {})
        jobs = tracker.getJobIdsForGroup(group)
        c["jobs"] = len(jobs)
        c["stages"] = c["tasks"] = c["failed_tasks"] = 0
        for j in jobs:
            info = tracker.getJobInfo(j)
            for s in info.stageIds if info else ():
                st = tracker.getStageInfo(s)
                if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
                    continue  # skipped: its shuffle output was reused
                c["stages"] += 1
                c["tasks"] += st.numTasks
                c["failed_tasks"] += st.numFailedTasks

    # ------------------------------------------------------------ derived

    def self_times(self) -> dict[int, dict[str, float]]:
        """Per op, per span name: seconds of the span not covered by its
        children.  Children of one span are sequential (one client thread),
        so their durations add."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent >= 0:
                child[s.parent] += s.end - s.start
        out: dict[int, dict[str, float]] = {}
        for i, s in enumerate(self.spans):
            d = out.setdefault(s.op, {})
            d[s.name] = d.get(s.name, 0.0) + (s.end - s.start) - child[i]
        return out

    def layer_ms(self, name: str) -> tuple[float, int]:
        """Median over the ops that entered ``name`` of its per-op self time
        (ms), and the number of those ops."""
        vals = [d[name] * 1e3 for d in self.self_times().values() if name in d]
        return (statistics.median(vals) if vals else 0.0), len(vals)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(
                {
                    "spans": [s.__dict__ for s in self.spans],
                    "op_counts": {str(k): v for k, v in self.op_counts.items()},
                },
                fh,
            )
