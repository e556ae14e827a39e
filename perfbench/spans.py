"""Outside-in tracing for the benchmark: spans around calls into the
engine's public functions, and Spark job/stage/task metrics read back
from the event log, one job group per span.

Nothing here changes library code. A traced run installs wrappers on
module attributes (`tiling.prepare_documents`, `dedup.minhash_band_keys`,
...) for its duration, so calls made *inside* the library (say,
`run_flagship` calling `raster.extract_shorelines`) pass through a span
too. Spark is lazy, so a span that only called the function would time
plan construction; each wrapper therefore materializes the DataFrame
the function returns (persist + a noop write) under the span's job
group and hands the cached frame downstream. That changes the plan
(fusion across layers is lost, outputs are cached), which is why the
end-to-end metrics come from an untraced run and the traced run reports
its own iteration wall next to an untraced iteration made in the same
process: the difference is the tracing overhead.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict
from collections.abc import Callable

from pyspark import StorageLevel
from pyspark.sql import DataFrame

# Per-span metric family (the span's jobs, inclusive of nested spans).
FAMILY = (
    "wall_s",
    "jobs",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "rows_out",
)


def metric_prefix(span: str) -> str:
    """`tiling` -> `tiling.`; `raster.agg` -> `raster.agg_`."""
    return span + ("_" if "." in span else ".")


class NullTracer:
    """Untraced runs: every call goes straight to the library."""

    def call(self, span: str, fn: Callable, *args, post=None, **kwargs):
        return fn(*args, **kwargs)

    def begin_iteration(self, label: str) -> None:
        pass

    def end_iteration(self) -> None:
        pass

    def unpatch(self) -> None:
        pass


class Tracer:
    """Spans with one Spark job group each, kept in memory until the run
    ends. `call` wraps a call made by the benchmark; `patch` wraps a
    module attribute so calls made inside the library are spanned too.
    `post` hooks measure span-specific counts after the span's wall clock
    has stopped, under an auxiliary job group that no span claims."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._cached: list = []
        self._patches: list[tuple[object, str, Callable]] = []
        self._iter = ""

    # ------------------------------------------------------------ spans
    def begin_iteration(self, label: str) -> None:
        self._iter = label

    def end_iteration(self) -> None:
        for df in self._cached:
            df.unpersist()
        self._cached.clear()
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    def _group(self, path: str) -> None:
        self.sc.setJobGroup(f"{self._iter}|{path}", path)

    def _back_to(self, parent: dict | None) -> None:
        if parent:
            self._group(parent["path"])
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def call(self, span: str, fn: Callable, *args, post=None, **kwargs):
        """Run `fn` as span `span`. Its wall excludes the auxiliary time
        (counts and probes) of spans nested in it; that time is kept in
        `aux_s` so the iteration's wall can be taken net of it."""
        parent = self._stack[-1] if self._stack else None
        path = f"{parent['path']}/{span}" if parent else span
        rec = {"iter": self._iter, "span": span, "path": path, "extra": {}, "nested_aux_s": 0.0}
        self._stack.append(rec)
        self._group(path)
        t0 = time.time()
        try:
            out = fn(*args, **kwargs)
            if isinstance(out, DataFrame):
                out = out.persist(StorageLevel.MEMORY_AND_DISK)
                out.write.format("noop").mode("overwrite").save()
                self._cached.append(out)
        finally:
            t1 = time.time()
            self._stack.pop()
            rec.update(start=t0, end=t1, wall_s=t1 - t0 - rec["nested_aux_s"])
            self._back_to(parent)
            self.spans.append(rec)
        # counts on the cached output: auxiliary jobs, outside the span
        self.sc.setJobGroup(f"{self._iter}|aux", "aux")
        if isinstance(out, DataFrame):
            rec["rows_out"] = out.count()
        if post is not None:
            rec["extra"].update(post(args, kwargs, out))
        rec["aux_s"] = time.time() - t1
        if parent:
            parent["nested_aux_s"] += rec["aux_s"] + rec["nested_aux_s"]
        self._back_to(parent)
        return out

    def patch(self, module, attr: str, span: str, post=None) -> None:
        orig = getattr(module, attr)

        def wrapped(*args, **kwargs):
            return self.call(span, orig, *args, post=post, **kwargs)

        self._patches.append((module, attr, orig))
        setattr(module, attr, wrapped)

    def unpatch(self) -> None:
        while self._patches:
            module, attr, orig = self._patches.pop()
            setattr(module, attr, orig)


# ------------------------------------------------------------ event log

def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def _plan_nodes(info: dict, out: dict) -> None:
    """accumulatorId -> (plan node name, SQL metric name)."""
    for m in info.get("metrics", []):
        out[m["accumulatorId"]] = (info.get("nodeName", ""), m["name"])
    for child in info.get("children", []):
        _plan_nodes(child, out)


class EventLog:
    """Job, stage and task metrics of one application's event log,
    grouped by job group id."""

    def __init__(self, path: str):
        self.jobs: dict[str, list[tuple[float, float]]] = defaultdict(list)
        self.stages: dict[str, set] = defaultdict(set)
        self.tasks: dict[str, list[dict]] = defaultdict(list)
        accum_nodes: dict[int, tuple] = {}
        stage_group: dict[int, str] = {}
        job_start: dict[int, tuple[str, float]] = {}
        raw_tasks = []
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    g = (e.get("Properties") or {}).get("spark.jobGroup.id")
                    job_start[e["Job ID"]] = (g, e["Submission Time"] / 1e3)
                elif kind == "SparkListenerJobEnd":
                    g, t0 = job_start.pop(e["Job ID"], (None, None))
                    if g is not None:
                        self.jobs[g].append((t0, e["Completion Time"] / 1e3))
                elif kind == "SparkListenerStageSubmitted":
                    g = (e.get("Properties") or {}).get("spark.jobGroup.id")
                    sid = e["Stage Info"]["Stage ID"]
                    stage_group[sid] = g
                    if g is not None:
                        self.stages[g].add(sid)
                elif kind == "SparkListenerTaskEnd":
                    raw_tasks.append(e)
                elif "sparkPlanInfo" in e:
                    _plan_nodes(e["sparkPlanInfo"], accum_nodes)
        for e in raw_tasks:
            g = stage_group.get(e["Stage ID"])
            if g is None:
                continue
            m = e.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            om = m.get("Output Metrics") or {}
            sql: dict[tuple, float] = defaultdict(float)
            for a in (e.get("Task Info") or {}).get("Accumulables", []):
                node = accum_nodes.get(a.get("ID"))
                if node is None or a.get("Update") is None:
                    continue
                try:
                    sql[node] += float(a["Update"])
                except (TypeError, ValueError):
                    continue
            self.tasks[g].append(
                {
                    "run_s": m.get("Executor Run Time", 0) / 1e3,
                    "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                    "gc_s": m.get("JVM GC Time", 0) / 1e3,
                    "shuffle_read_bytes": sr.get("Remote Bytes Read", 0)
                    + sr.get("Local Bytes Read", 0),
                    "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
                    "spill_bytes": m.get("Disk Bytes Spilled", 0),
                    "bytes_written": om.get("Bytes Written", 0),
                    "sql": dict(sql),
                }
            )

    def groups(self, pred: Callable[[str], bool]) -> list[str]:
        keys = set(self.jobs) | set(self.tasks)
        return [g for g in keys if pred(g)]

    def totals(self, groups: list[str]) -> dict:
        tasks = [t for g in groups for t in self.tasks.get(g, [])]
        out = {
            "jobs": sum(len(self.jobs.get(g, [])) for g in groups),
            "stages": sum(len(self.stages.get(g, ())) for g in groups),
            "tasks": len(tasks),
            "executor_run_s": sum(t["run_s"] for t in tasks),
            "executor_cpu_s": sum(t["cpu_s"] for t in tasks),
            "gc_s": sum(t["gc_s"] for t in tasks),
            "shuffle_read_bytes": sum(t["shuffle_read_bytes"] for t in tasks),
            "shuffle_write_bytes": sum(t["shuffle_write_bytes"] for t in tasks),
            "spill_bytes": sum(t["spill_bytes"] for t in tasks),
            "bytes_written": sum(t["bytes_written"] for t in tasks),
        }
        sql: dict[tuple, float] = defaultdict(float)
        for t in tasks:
            for k, v in t["sql"].items():
                sql[k] += v
        out["sql"] = sql
        return out

    def job_union_s(self, groups: list[str], lo: float, hi: float) -> float:
        iv = [
            (max(a, lo), min(b, hi))
            for g in groups
            for a, b in self.jobs.get(g, [])
            if b > lo and a < hi
        ]
        return _union_s(iv)


# ------------------------------------------------------------ memory

def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, each shared page split
    among the processes sharing it, so forked Python workers (which
    share the daemon's interpreter and imports copy-on-write) are not
    counted once per worker."""
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    raise ValueError(f"no Pss line for pid {pid}")


def _tree_memory(root_pid: int) -> tuple[int, int]:
    """(summed PSS of `root_pid` and all its descendants, process count)."""
    children: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children[ppid].append(int(d))
    total, count, todo = 0, 0, [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            total += _pss_bytes(pid)
            count += 1
        except (OSError, ValueError):
            continue  # the process ended between listing and reading
    return total, count


class RssSampler:
    """Peak resident memory of a process tree (the driver JVM and the
    Python workers it forks), summed as PSS and sampled from a background
    thread."""

    def __init__(self, root_pid: int, period_s: float = 0.2):
        self.root_pid = root_pid
        self.period_s = period_s
        self.peak = 0
        self.procs_at_peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        rss, procs = _tree_memory(self.root_pid)
        if rss > self.peak:
            self.peak, self.procs_at_peak = rss, procs

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.period_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()
