"""Per-layer tracing for the benchmark's traced run (``--trace 1``).

Spans are recorded from the benchmark's own files: ``install`` replaces the
engine's public functions, at every module attribute their callers resolve,
with wrappers that open a span around the call, and the workloads open the
``index_reader.<request>.plan`` / ``.exec`` spans around each request.
Each span runs under its own Spark job group, so every job, and through it
every stage and task in the Spark event log, belongs to exactly one span
(the innermost one open when the job started).

The untraced run installs nothing: ``Tracer.span`` is then a no-op.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

COUNTERS = (
    "calls", "wall_s", "self_s", "driver_s", "jobs", "tasks", "sched_wait_s",
    "exec_cpu_s", "gc_s", "input_bytes", "output_bytes", "shuffle_write_bytes",
    "spill_bytes", "task_failures",
)

# (module, attribute, span name).  An attribute is listed once for every
# module that binds it: ``index_reader`` imported ``read_index`` at import
# time, so patching ``indexing.read_index`` alone would miss its calls.
# Functions imported inside a function body (the sidecar writers in
# ``IndexJob._build_inner``, ``read_index`` in the sidecar modules) are
# looked up on their home module at call time, so one patch there covers
# them.
WRAPPED = (
    ("solr_map_reduce_spark.sources", "read_input", "sources.read_input"),
    ("solr_map_reduce_spark.indexing", "read_index", "indexing.read_index"),
    ("solr_map_reduce_spark.index_reader", "read_index", "indexing.read_index"),
    ("solr_map_reduce_spark.term_blooms", "write_term_blooms", "term_blooms.write_term_blooms"),
    ("solr_map_reduce_spark.search_stats", "write_search_stats", "search_stats.write_search_stats"),
    ("solr_map_reduce_spark.search_stats", "write_search_sidecars", "search_stats.write_search_sidecars"),
    ("solr_map_reduce_spark.search_stats", "prepare_stats_delta", "search_stats.prepare_stats_delta"),
    ("solr_map_reduce_spark.search_stats", "term_dfs", "search_stats.term_dfs"),
    ("solr_map_reduce_spark.key_ranges", "write_key_ranges", "key_ranges.write_key_ranges"),
    ("solr_map_reduce_spark.extensions.ann_sidecar", "probe_topk", "ann_sidecar.probe_topk"),
    ("solr_map_reduce_spark.extensions.text_dedup", "minhash_dedup", "text_dedup.minhash_dedup"),
    ("solr_map_reduce_spark.extensions.text_dedup", "minhash_features", "text_dedup.minhash_features"),
    ("solr_map_reduce_spark.extensions.text_dedup", "verified_jaccard", "text_dedup.verified_jaccard"),
)
# (module, class, method, span name)
WRAPPED_METHODS = (
    ("solr_map_reduce_spark.plans.pipeline", "Pipeline", "run", "plans.pipeline.run"),
    ("solr_map_reduce_spark.indexing", "IndexJob", "build", "indexing.build"),
    ("solr_map_reduce_spark.indexing", "IndexJob", "merge_into", "indexing.merge_into"),
    ("solr_map_reduce_spark.indexing", "IndexJob", "update_fields", "indexing.update_fields"),
    ("solr_map_reduce_spark.indexing", "IndexJob", "delete_where", "indexing.delete_where"),
)


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float  # epoch seconds, the clock the event log stamps jobs with
    end: float = 0.0
    children_s: float = 0.0


@dataclass
class Tracer:
    """Span recorder; ``enabled=False`` makes every span a no-op."""

    sc: object = None
    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    _stack: list[Span] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, parent.sid if parent else None, time.time())
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(f"pb-{sp.sid}", name)
        try:
            yield
        finally:
            sp.end = time.time()
            self._stack.pop()
            if parent is not None:
                parent.children_s += sp.end - sp.start
                self.sc.setJobGroup(f"pb-{parent.sid}", parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def install(self) -> None:
        """Patch every entry of WRAPPED / WRAPPED_METHODS."""
        import importlib

        for mod_name, attr, name in WRAPPED:
            mod = importlib.import_module(mod_name)
            setattr(mod, attr, self._wrap(getattr(mod, attr), name))
        for mod_name, cls_name, meth, name in WRAPPED_METHODS:
            cls = getattr(importlib.import_module(mod_name), cls_name)
            setattr(cls, meth, self._wrap(cls.__dict__[meth], name))


# -- event log ----------------------------------------------------------

def _union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def read_event_log(log_dir: str) -> dict:
    """Jobs and per-job task totals from the Spark event log in ``log_dir``."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {paths}")
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stage_submit: dict[tuple[int, int], float] = {}
    with open(paths[0], encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                jobs[jid] = {
                    "group": props.get("spark.jobGroup.id"),
                    "start": ev["Submission Time"] / 1000.0,
                    "end": None,
                    "tasks": 0, "sched_wait_s": 0.0, "exec_cpu_s": 0.0, "gc_s": 0.0,
                    "input_bytes": 0, "output_bytes": 0, "shuffle_write_bytes": 0,
                    "spill_bytes": 0, "task_failures": 0,
                }
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                sub = info.get("Submission Time")
                if sub is not None:
                    stage_submit[(info["Stage ID"], info["Stage Attempt ID"])] = sub / 1000.0
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(ev["Stage ID"], -1))
                if job is None:
                    continue
                info = ev["Task Info"]
                m = ev.get("Task Metrics") or {}
                job["tasks"] += 1
                if info.get("Failed"):
                    job["task_failures"] += 1
                sub = stage_submit.get((ev["Stage ID"], ev.get("Stage Attempt ID", 0)))
                duration = (info["Finish Time"] - info["Launch Time"]) / 1000.0
                # Spark UI's scheduler delay, plus the wait from stage
                # submission until the task got a core
                busy = (
                    m.get("Executor Run Time", 0) + m.get("Executor Deserialize Time", 0)
                    + m.get("Result Serialization Time", 0)
                ) / 1000.0 + info.get("Getting Result Time", 0) / 1000.0
                wait = max(0.0, duration - busy)
                if sub is not None:
                    wait += max(0.0, info["Launch Time"] / 1000.0 - sub)
                job["sched_wait_s"] += wait
                job["exec_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                job["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                job["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                job["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
                job["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                job["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
    return jobs


def layer_profile(spans: list[Span], jobs: dict) -> dict[str, dict[str, float]]:
    """Per span name: every counter in COUNTERS, summed over its calls.

    ``self_s`` is wall time minus the time of child spans; ``driver_s`` is
    wall time during which no Spark job was running; job and task counters
    belong to the innermost span open when the job started."""
    intervals = [(j["start"], j["end"]) for j in jobs.values() if j["end"] is not None]
    by_group: dict[str, list[dict]] = {}
    for j in jobs.values():
        by_group.setdefault(j["group"], []).append(j)
    out: dict[str, dict[str, float]] = {}
    for sp in spans:
        row = out.setdefault(sp.name, {c: 0 for c in COUNTERS})
        wall = sp.end - sp.start
        row["calls"] += 1
        row["wall_s"] += wall
        row["self_s"] += wall - sp.children_s
        row["driver_s"] += wall - _union_length(intervals, sp.start, sp.end)
        for j in by_group.get(f"pb-{sp.sid}", []):
            row["jobs"] += 1
            for c in ("tasks", "sched_wait_s", "exec_cpu_s", "gc_s", "input_bytes",
                      "output_bytes", "shuffle_write_bytes", "spill_bytes",
                      "task_failures"):
                row[c] += j[c]
    return out
