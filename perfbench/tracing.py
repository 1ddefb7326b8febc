"""Traced mode: spans and counters recorded around the program's layers.

``Tracer.install()`` wraps the public functions of the compactor's
``fs`` and ``core`` layers (and the query registry's callables, wrapped
by the query workload itself) from the benchmark's own files; the
program under test is not modified. ``uninstall()`` restores the
originals, so traced and untraced passes run in one session and their
difference is the tracing overhead.

A span is (id, name, layer, start, end, parent id, pass id). Spans live
in memory and are written out as JSON lines when the run ends. A
layer's self time is its spans' durations minus the part of each span
that its child spans cover.
"""

from __future__ import annotations

import contextlib
import functools
import json
import threading
import time
import urllib.request
from collections import defaultdict

FS_OPS = ("list_files", "list_dirs", "rename", "delete", "exists", "read_text", "write_text")
CORE_CALLS = {
    "candidate_leaves": "core.candidate_leaves",
    "merge_files": "core.merge",
    "merge_files_gcp": "core.merge",
    "_write_merged_direct": "core.merge",
    "remove_uncompacted_files": "core.remove_uncompacted",
    "gc_orphan_tmp_dirs": "core.gc_orphan",
    "compact": "core.compact",
}
LAYERS = ("pass", "core", "fs", "registry", "query")


class Tracer:
    def __init__(self) -> None:
        self.spans: list[tuple] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.pass_id = 0
        self._next_id = 0
        self._lock = threading.Lock()
        self._local = threading.local()
        self._root: int | None = None
        self._restore: list[tuple[object, str, object]] = []

    # -- spans -------------------------------------------------------------

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            # A worker thread (the compactor's rename/delete fan-out)
            # parents its spans to the pass root.
            self._local.stack = [self._root] if self._root is not None else []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        with self._lock:
            self._next_id += 1
            sid = self._next_id
        stack = self._stack()
        parent = stack[-1] if stack else None
        stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield sid
        finally:
            t1 = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append((sid, name, layer, t0, t1, parent, self.pass_id))

    @contextlib.contextmanager
    def begin_pass(self, pass_id: int):
        """Root span of one pass."""
        self.pass_id = pass_id
        self._local.stack = []
        with self.span("pass", "pass") as sid:
            self._root = sid
            try:
                yield
            finally:
                self._root = None

    def count(self, key: str, n: float = 1) -> None:
        with self._lock:
            self.counts[f"{self.pass_id}:{key}"] += n

    # -- wrapping ----------------------------------------------------------

    def _patch(self, owner, attr: str, wrapper) -> None:
        original = getattr(owner, attr)
        self._restore.append((owner, attr, original))
        setattr(owner, attr, wrapper(original))

    def timed(self, name: str, layer: str, count_result=None):
        def wrap(fn):
            @functools.wraps(fn)
            def inner(*args, **kwargs):
                with self.span(name, layer):
                    out = fn(*args, **kwargs)
                self.count(f"{name}.calls")
                if count_result is not None:
                    self.count(*count_result(out))
                return out

            return inner

        return wrap

    def install(self) -> None:
        from parquet_compactor_spark.compactor import core, fs

        for op in FS_OPS:
            entries = (lambda out: ("fs.list_files.entries", len(out))) if op == "list_files" else None
            self._patch(fs.HadoopFS, op, self.timed(f"fs.{op}", "fs", entries))
        for attr, name in CORE_CALLS.items():
            self._patch(core.LakeCompactor, attr, self.timed(name, "core"))
        for attr in ("filter_compacted", "filter_compacted_gcp"):
            self._patch(core, attr, self.timed("core.filter_compacted", "core"))

    def uninstall(self) -> None:
        while self._restore:
            owner, attr, original = self._restore.pop()
            setattr(owner, attr, original)

    # -- reduction ---------------------------------------------------------

    def pass_values(self, pass_id: int) -> dict[str, float]:
        """Per-pass totals: span seconds and calls by name, self time by
        layer, and the raw counters."""
        spans = [s for s in self.spans if s[6] == pass_id]
        out: dict[str, float] = defaultdict(float)
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for sid, name, layer, t0, t1, parent, _ in spans:
            out[f"{name}.s"] += t1 - t0
            if parent is not None:
                children[parent].append((t0, t1))
        for layer in LAYERS:
            out[f"self.{layer}_s"] = 0.0
        for sid, name, layer, t0, t1, parent, _ in spans:
            covered = _union(children.get(sid, []), t0, t1)
            out[f"self.{layer}_s"] += (t1 - t0) - covered
        prefix = f"{pass_id}:"
        for k, v in self.counts.items():
            if k.startswith(prefix):
                out[k[len(prefix):]] += v
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for sid, name, layer, t0, t1, parent, pid in self.spans:
                fh.write(json.dumps({"id": sid, "name": name, "layer": layer, "start": t0,
                                     "end": t1, "parent": parent, "pass": pid}) + "\n")


def _union(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        s, e = max(s, lo), min(e, hi)
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# -- Spark engine counters --------------------------------------------------


def spark_job_stats(spark, group: str) -> dict[str, float]:
    """Jobs, stages, tasks and stage metrics of one job group.

    Counts come from ``statusTracker()``; executor run time, GC time and
    I/O bytes from the driver UI's ``/api/v1`` stages endpoint."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    job_ids = list(tracker.getJobIdsForGroup(group))
    stage_ids: set[int] = set()
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
    out = {k: 0.0 for k in (
        "spark.jobs", "spark.stages", "spark.tasks", "spark.failed_tasks",
        "spark.executor_run_s", "spark.gc_s", "spark.input_bytes",
        "spark.output_bytes", "spark.shuffle_write_bytes")}
    out["spark.jobs"] = len(job_ids)
    out["spark.stages"] = len(stage_ids)
    for sid in stage_ids:
        info = tracker.getStageInfo(sid)
        if info is not None:
            out["spark.tasks"] += info.numTasks
            out["spark.failed_tasks"] += info.numFailedTasks
    if stage_ids and sc.uiWebUrl:
        url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/stages"
        with urllib.request.urlopen(url, timeout=30) as resp:
            stages = json.load(resp)
        for st in stages:
            if st.get("stageId") in stage_ids:
                out["spark.executor_run_s"] += st.get("executorRunTime", 0) / 1000.0
                out["spark.gc_s"] += st.get("jvmGcTime", 0) / 1000.0
                out["spark.input_bytes"] += st.get("inputBytes", 0)
                out["spark.output_bytes"] += st.get("outputBytes", 0)
                out["spark.shuffle_write_bytes"] += st.get("shuffleWriteBytes", 0)
    return out
