"""Spans around the program's layer entry points, and event-log attribution.

``Tracer.patched()`` wraps, for the duration of a traced op:
  * ``tableio.StageStore.stage``: one span per pipeline stage, named after
    the stage (its ``name`` argument);
  * ``pipeline.run_dedup``, ``incremental.run_dedup_incremental`` and
    ``streaming.process_batch``: parent spans.

Each span runs its Spark jobs under a job group of its own, so the Spark
event log (``spark.eventLog.enabled``) can be joined back to the spans:
``stage_metrics`` turns the event log plus the spans into per-stage wall
time, CPU, GC, shuffle, spill, task and job counts and task skew.
Nothing inside ``sift_kg_spark`` is edited; the wrappers are installed on
the module attributes and removed afterwards.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import itertools
import json
import os
import statistics
import time
from collections import defaultdict
from dataclasses import dataclass, field

from dedupbench.proctree import tree_cpu_s

STAGES = (
    "prepared",
    "exact_pairs",
    "features",
    "keys",
    "candidates",
    "verified",
    "spans",
    "dup_pairs",
    "assignments",
    "assignments_delta",
    "clusters",
)
STAGE_FIELDS = (
    "wall_s",
    "cpu_core_s",
    "gc_core_s",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
    "tasks",
    "jobs",
    "task_skew",
)


@dataclass
class Span:
    id: str
    name: str
    kind: str  # "stage" or "entry"
    parent: str | None
    start: float = 0.0
    end: float = 0.0
    cpu_s: float = 0.0
    workdir: str | None = None

    @property
    def wall_s(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """Records spans and sets one Spark job group per span."""

    spark_context: object
    spans: list[Span] = field(default_factory=list)
    _stack: list[Span] = field(default_factory=list)
    _ids: itertools.count = field(default_factory=itertools.count)

    @contextlib.contextmanager
    def span(self, name: str, kind: str, workdir: str | None = None):
        parent = self._stack[-1] if self._stack else None
        sp = Span(f"dedupbench-{next(self._ids)}", name, kind,
                  parent.id if parent else None, workdir=workdir)
        self.spans.append(sp)
        self._stack.append(sp)
        self.spark_context.setJobGroup(sp.id, name)
        cpu0 = tree_cpu_s()
        sp.start = time.monotonic()
        try:
            yield sp
        finally:
            sp.end = time.monotonic()
            sp.cpu_s = tree_cpu_s() - cpu0
            self._stack.pop()
            if parent is not None:
                self.spark_context.setJobGroup(parent.id, parent.name)
            else:
                self.spark_context.setLocalProperty("spark.jobGroup.id", None)
                self.spark_context.setLocalProperty("spark.job.description", None)

    def _wrap_entry(self, fn, name: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name, "entry"):
                return fn(*args, **kwargs)

        return wrapper

    @contextlib.contextmanager
    def patched(self):
        """Install the span wrappers on the program's entry points."""
        from sift_kg_spark import incremental, pipeline, streaming, tableio

        tracer = self
        orig_stage = tableio.StageStore.stage

        @functools.wraps(orig_stage)
        def stage(store, name, *args, **kwargs):
            with tracer.span(name, "stage", workdir=store.workdir):
                return orig_stage(store, name, *args, **kwargs)

        targets = [
            (tableio.StageStore, "stage", stage),
            (pipeline, "run_dedup", self._wrap_entry(pipeline.run_dedup, "run_dedup")),
            (streaming, "run_dedup", self._wrap_entry(streaming.run_dedup, "run_dedup")),
            (
                incremental,
                "run_dedup_incremental",
                self._wrap_entry(incremental.run_dedup_incremental, "run_dedup_incremental"),
            ),
            (
                streaming,
                "run_dedup_incremental",
                self._wrap_entry(streaming.run_dedup_incremental, "run_dedup_incremental"),
            ),
            (
                streaming,
                "process_batch",
                self._wrap_entry(streaming.process_batch, "process_batch"),
            ),
        ]
        saved = [(obj, attr, getattr(obj, attr)) for obj, attr, _ in targets]
        try:
            for obj, attr, new in targets:
                setattr(obj, attr, new)
            yield self
        finally:
            for obj, attr, old in saved:
                setattr(obj, attr, old)


def unit_of(metric: str) -> str:
    """Unit of a per-layer metric, from its name."""
    last = metric.rsplit(".", 1)[-1]
    if last.endswith("docs_per_s"):
        return "docs/s"
    if last.endswith("_s"):
        return "s"
    if last.endswith("_bytes"):
        return "bytes"
    if last.endswith("_mb"):
        return "MB"
    if last.endswith("_ms_per_doc"):
        return "ms/doc"
    if last.endswith("_us_per_doc"):
        return "us/doc"
    if last.endswith("_us_per_pair"):
        return "us/pair"
    if metric.startswith("ratio.") or last == "task_skew":
        return "ratio"
    return "count"


# -- event log -----------------------------------------------------------


@dataclass
class GroupTotals:
    """Jobs, and task figures summed over the tasks, of one job group."""

    jobs: int = 0
    durations_ms: list[int] = field(default_factory=list)
    gc_ms: int = 0
    shuffle_write: int = 0
    shuffle_read: int = 0
    spill: int = 0


def _event_files(log_dir: str) -> list[str]:
    """Event-log files under ``log_dir``: single-file logs, and the
    ``events_<n>_*`` parts of rolling (``eventlog_v2_*``) logs in order."""
    out = []
    for entry in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.isdir(entry):
            parts = glob.glob(os.path.join(entry, "events_*"))
            out += sorted(parts, key=lambda p: int(os.path.basename(p).split("_")[1]))
        else:
            out.append(entry)
    return out


def read_event_log(log_dir: str) -> dict[str, GroupTotals]:
    """Job and task totals per job group, from the event log(s) in
    ``log_dir`` (uncompressed JSON lines)."""
    stage_group: dict[int, str | None] = {}
    groups: dict[str, GroupTotals] = defaultdict(GroupTotals)
    for path in _event_files(log_dir):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if g:
                        groups[g].jobs += 1
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    stage_group[info["Stage ID"]] = (
                        ev.get("Properties") or {}
                    ).get("spark.jobGroup.id")
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev["Stage ID"])
                    tm = ev.get("Task Metrics")
                    if not g or not tm:
                        continue
                    rec = groups[g]
                    ti = ev["Task Info"]
                    rec.durations_ms.append(ti["Finish Time"] - ti["Launch Time"])
                    rec.gc_ms += tm.get("JVM GC Time", 0)
                    sw = tm.get("Shuffle Write Metrics") or {}
                    rec.shuffle_write += sw.get("Shuffle Bytes Written", 0)
                    sr = tm.get("Shuffle Read Metrics") or {}
                    rec.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    rec.spill += tm.get("Memory Bytes Spilled", 0) + tm.get(
                        "Disk Bytes Spilled", 0
                    )
    return dict(groups)


def _skew(durations_ms: list[int]) -> float:
    if not durations_ms:
        return 0.0
    return max(durations_ms) / max(statistics.median(durations_ms), 1.0)


def stage_metrics(spans: list[Span], groups: dict[str, GroupTotals]) -> dict[str, float]:
    """``stage.<s>.<field>`` for every stage in STAGES (zeros where the
    stage did not run), plus ``process_batch.self_s`` and ``total.*``.

    A stage's figures sum over all its spans (an append op runs each stage
    once per micro-batch); ``task_skew`` pools their tasks.
    """
    out: dict[str, float] = {}
    by_name: dict[str, list[Span]] = defaultdict(list)
    for sp in spans:
        if sp.kind == "stage":
            by_name[sp.name].append(sp)
    for s in STAGES:
        recs = [groups.get(sp.id, GroupTotals()) for sp in by_name.get(s, [])]
        durations = [d for r in recs for d in r.durations_ms]
        vals = {
            "wall_s": sum(sp.wall_s for sp in by_name.get(s, [])),
            "cpu_core_s": sum(sp.cpu_s for sp in by_name.get(s, [])),
            "gc_core_s": sum(r.gc_ms for r in recs) / 1000.0,
            "shuffle_write_bytes": sum(r.shuffle_write for r in recs),
            "shuffle_read_bytes": sum(r.shuffle_read for r in recs),
            "spill_bytes": sum(r.spill for r in recs),
            "tasks": len(durations),
            "jobs": sum(r.jobs for r in recs),
            "task_skew": _skew(durations),
        }
        for k in STAGE_FIELDS:
            out[f"stage.{s}.{k}"] = vals[k]

    children: dict[str, list[Span]] = defaultdict(list)
    for sp in spans:
        if sp.parent is not None:
            children[sp.parent].append(sp)
    out["process_batch.self_s"] = sum(
        sp.wall_s - sum(c.wall_s for c in children[sp.id])
        for sp in spans
        if sp.name == "process_batch"
    )
    roots = [sp for sp in spans if sp.parent is None]
    out["total.cpu_core_s"] = sum(sp.cpu_s for sp in roots)
    out["total.jobs"] = sum(groups.get(sp.id, GroupTotals()).jobs for sp in spans)
    return out
