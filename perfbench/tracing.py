"""Operation timing, and in traced runs spans plus per-layer counters.

Everything here is recorded from outside the engine: the tracer wraps
the public functions of the layer modules (``store``, ``registry``,
``dataframe``) at run time, labels each operation's Spark jobs with a
job group, and reads Spark's status store and the pipe's data
directory after each operation. Untraced runs only time the operation.
"""

from __future__ import annotations

import contextlib
import functools
import os
import time

from py4j.protocol import Py4JError

#: (module, owner class or None, function, span name) of every layer
#: call a traced run wraps
LAYER_CALLS = (
    ("meerschaum_spark.store", "ParquetPipeStore", "read", "store.read"),
    ("meerschaum_spark.store", "ParquetPipeStore", "append", "store.append"),
    ("meerschaum_spark.store", "ParquetPipeStore", "merge", "store.merge"),
    ("meerschaum_spark.registry", "PipeRegistry", "load", "registry.load"),
    ("meerschaum_spark.registry", "PipeRegistry", "save", "registry.save"),
    ("meerschaum_spark.dataframe", None, "to_spark_df", "dataframe.to_spark_df"),
)
#: span name -> the per-operation field its seconds add up in
LAYER_FIELDS = {
    "store.read": "store_read_s", "store.append": "store_append_s",
    "store.merge": "store_merge_s", "registry.load": "registry_s",
    "registry.save": "registry_s", "dataframe.to_spark_df": "to_spark_df_s",
}

#: how long to wait for Spark's listener bus to deliver an operation's
#: job and stage events before its counters are read
LISTENER_WAIT_MS = 30_000


def parquet_files(path: str) -> set[str]:
    """Every parquet data file under ``path``."""
    out: set[str] = set()
    for dirpath, _dirs, files in os.walk(path):
        out.update(os.path.join(dirpath, f) for f in files
                   if f.endswith(".parquet"))
    return out


def union_seconds(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


class Tracer:
    """Times operations. When ``enabled``, it also records a span around
    each operation and each wrapped layer call (name, start, end, parent,
    operation id) and one counter record per operation."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self._stack: list[dict] = []
        self._origin = time.perf_counter()
        self._patches: list[tuple[object, str, object]] = []
        self._footer_rows: dict[str, int] = {}

    # -- layer wrappers ----------------------------------------------------

    def install(self) -> None:
        if not self.enabled or self._patches:
            return
        import importlib
        for mod_name, owner_name, fn_name, span_name in LAYER_CALLS:
            mod = importlib.import_module(mod_name)
            owner = getattr(mod, owner_name) if owner_name else mod
            orig = owner.__dict__[fn_name]
            setattr(owner, fn_name, self._wrapped(orig, span_name))
            self._patches.append((owner, fn_name, orig))

    def uninstall(self) -> None:
        while self._patches:
            owner, fn_name, orig = self._patches.pop()
            setattr(owner, fn_name, orig)

    def _wrapped(self, fn, span_name: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self._stack:  # outside a measured operation
                return fn(*args, **kwargs)
            with self.span(span_name):
                return fn(*args, **kwargs)
        return wrapper

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        span_id = len(self.spans)
        rec = {"id": span_id, "name": name,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "op": self._stack[0]["id"] if self._stack else span_id,
               "start": time.perf_counter() - self._origin, "end": None}
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self._origin

    # -- operations --------------------------------------------------------

    def run_op(self, kind: str, fn, data_dir: str | None = None):
        """Run ``fn()`` as one timed operation.

        Returns ``(result, wall_seconds, record)``; ``record`` is the
        operation's counter dict in traced runs (callers may add fields)
        and None otherwise. Exceptions propagate."""
        if not self.enabled:
            t0 = time.perf_counter()
            out = fn()
            return out, time.perf_counter() - t0, None
        before = parquet_files(data_dir) if data_dir else set()
        self._count_footer_rows(before)
        sc = self.spark.sparkContext
        group = f"perfbench-op-{len(self.ops)}"
        sc.setJobGroup(group, kind)
        try:
            e0 = time.time()
            with self.span(kind) as op_span:
                t0 = time.perf_counter()
                out = fn()
                wall = time.perf_counter() - t0
            e1 = time.time()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        rec = {"kind": kind, "op_span": op_span["id"], "wall_s": wall}
        rec.update(self._spark_counters(group, e0, e1))
        rec.update(self._layer_seconds(op_span["id"]))
        if data_dir:
            after = parquet_files(data_dir)
            removed = before - after
            rec["files_added"] = len(after - before)
            rec["files_removed"] = len(removed)
            rec["rewritten_rows"] = sum(self._footer_rows.get(p, 0)
                                        for p in removed)
        self.ops.append(rec)
        return out, wall, rec

    def _count_footer_rows(self, files: set[str]) -> None:
        """Remember each file's row count while it still exists, so the
        rows a merge rewrites can be counted after it removed them."""
        import pyarrow.parquet as pq
        for path in files - self._footer_rows.keys():
            try:
                self._footer_rows[path] = pq.read_metadata(path).num_rows
            except OSError:
                continue

    def _layer_seconds(self, op_id: int) -> dict[str, float]:
        """Seconds spent in each wrapped layer during one operation; a
        call nested inside a call of the same layer counts once."""
        by_id = {s["id"]: s for s in self.spans[op_id:]}
        out: dict[str, float] = {}
        for s in self.spans[op_id + 1:]:
            if s["op"] != op_id:
                continue
            parent = by_id.get(s["parent"])
            nested = False
            while parent is not None:
                if parent["name"] == s["name"]:
                    nested = True
                    break
                parent = by_id.get(parent["parent"])
            if not nested:
                key = LAYER_FIELDS[s["name"]]
                out[key] = out.get(key, 0.0) + (s["end"] - s["start"])
        return out

    def _spark_counters(self, group: str, e0: float, e1: float) -> dict:
        """Jobs, tasks, executor time, shuffle and spill of one job group,
        from Spark's status store; ``driver_s`` is the operation's wall
        time outside every job interval."""
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        with contextlib.suppress(Py4JError):
            jsc.listenerBus().waitUntilEmpty(LISTENER_WAIT_MS)
        tracker = sc.statusTracker()
        store = jsc.statusStore()
        gw = sc._gateway
        no_quantiles = gw.new_array(gw.jvm.double, 0)
        out = {"jobs": 0, "tasks": 0, "exec_run_s": 0.0, "exec_cpu_s": 0.0,
               "shuffle_r_bytes": 0, "shuffle_w_bytes": 0, "spill_bytes": 0}
        intervals = []
        stage_ids: set[int] = set()
        for job_id in tracker.getJobIdsForGroup(group):
            out["jobs"] += 1
            job = store.job(job_id)
            if job.submissionTime().isDefined() and job.completionTime().isDefined():
                intervals.append((job.submissionTime().get().getTime() / 1e3,
                                  job.completionTime().get().getTime() / 1e3))
            info = tracker.getJobInfo(job_id)
            if info is not None:
                stage_ids.update(info.stageIds)
        for stage_id in stage_ids:
            attempts = store.stageData(stage_id, False, gw.jvm.java.util.ArrayList(),
                                       False, no_quantiles)
            for i in range(attempts.size()):
                st = attempts.apply(i)
                if st.status().toString() == "SKIPPED":
                    continue
                out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                out["exec_run_s"] += st.executorRunTime() / 1e3
                out["exec_cpu_s"] += st.executorCpuTime() / 1e9
                out["shuffle_r_bytes"] += st.shuffleReadBytes()
                out["shuffle_w_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        out["driver_s"] = max(0.0, (e1 - e0) - union_seconds(intervals, e0, e1))
        return out

    def dump(self) -> dict:
        return {"spans": self.spans, "ops": self.ops}
