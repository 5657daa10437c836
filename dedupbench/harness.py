"""The benchmark's ops, set-up, measured and traced runs (see run.py)."""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass, field

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark import SparkContext

from dedupbench.check import (
    ChecksumLog,
    assignments_checksum,
    check_assignments,
    source_digest,
)
from dedupbench.kernels import kernel_metrics
from dedupbench.proctree import TreeMeter, descendants, host_steal_s, reap
from dedupbench.tracing import Tracer, read_event_log, stage_metrics, unit_of
from dedupbench.workloads import materialize
import sift_kg_spark
from sift_kg_spark import get_spark, pipeline, streaming

# Stages whose manifests are removed before the resume: `spans` and every
# stage committed after it.
RESUME_FROM = ("spans", "dup_pairs", "assignments", "clusters")
MAX_OPS = 50
_T0 = time.perf_counter()


def _progress(msg: str) -> None:
    """A timestamped progress line on stderr (stdout carries the result)."""
    print(f"[{time.perf_counter() - _T0:7.1f} s] {msg}", file=sys.stderr, flush=True)

# The op latency and resume time of the traced run's untraced op
# (``batch_p50_s``, ``resume_s``) are per-layer figures: over ten seeds on
# a 4-core guest they spread by more than any bound allowed (up to 0.31 of
# the median), because a single 5-20 s window follows the host's CPU steal.
END_TO_END = {
    "docs_per_s": "docs/s",
    "pair_recall": "ratio",
    "setup_s": "s",
}


# -- ops ----------------------------------------------------------------------


@dataclass
class OpResult:
    docs: int
    latencies_s: list[float]
    recall: float = 0.0
    ok: bool = False
    checksum: str = ""
    resume_s: float | None = None
    notes: list[str] = field(default_factory=list)

    @property
    def docs_per_s(self) -> float:
        return self.docs / sum(self.latencies_s)


class Bench:
    """One workload's inputs, golden tables and Spark session; runs ops."""

    def __init__(self, spark, wl, data_dir: str, work: str) -> None:
        self.spark = spark
        self.wl = wl
        self.data = data_dir
        self.work = work
        self.pairs = pd.read_parquet(os.path.join(data_dir, "expected_pairs.parquet"))
        self.clusters = pd.read_parquet(os.path.join(data_dir, "expected_clusters.parquet"))
        quarantine = pd.read_parquet(os.path.join(data_dir, "expected_quarantine.parquet"))
        urls = pd.read_parquet(os.path.join(data_dir, "pages.parquet"), columns=["url"])
        self.expected_urls = set(urls["url"]) - set(quarantine["url"])
        program = source_digest(os.path.dirname(sift_kg_spark.__file__))
        self.checksums = ChecksumLog(os.path.join(data_dir, f"checksum-{program}.txt"))
        self.n_op = 0
        self.bind(spark)

    def bind(self, spark) -> None:
        """Read the inputs through ``spark`` and scan them once."""
        self.spark = spark
        if self.wl.batch_pages:
            self.base = spark.read.parquet(os.path.join(self.data, "base.parquet"))
            self.batches = [
                spark.read.parquet(os.path.join(self.data, f"batch_{i}.parquet"))
                for i in range(self.wl.n_batches)
            ]
            self.base.count()
            self.batch_rows = [b.count() for b in self.batches]
        else:
            self.pages = spark.read.parquet(os.path.join(self.data, "pages.parquet"))
            self.page_rows = self.pages.count()

    @property
    def base_state(self) -> str:
        return os.path.join(self.work, "base_state")

    def commit_base(self) -> None:
        shutil.rmtree(self.base_state, ignore_errors=True)
        streaming.process_batch(self.spark, self.base, self.base_state, batch_id=0)

    def _check(self, assign, res: OpResult) -> OpResult:
        c = check_assignments(assign, self.pairs, self.clusters, self.expected_urls)
        res.recall, res.checksum = c.pair_recall, c.checksum
        res.notes.extend(c.problems)
        reference = self.checksums.reference(c.checksum)
        if c.checksum != reference:
            res.notes.append(f"checksum {c.checksum} != first op's {reference}")
        res.ok = not res.notes
        return res

    def resume(self, out: OpResult) -> None:
        """Time ``run_dedup(resume=True)`` on the last op's workdir, kept by
        ``op(keep=True)``, after dropping the manifests of ``spans`` and
        later stages; a resumed checksum that differs fails ``out``. The
        append workload resumes its base generation."""
        if self.wl.batch_pages:
            wd, pages = os.path.join(self.op_dir(), "gen=0"), self.base
        else:
            wd, pages = self.op_dir(), self.pages
        before = assignments_checksum(_read_assignments(wd))
        for name in RESUME_FROM:
            os.remove(os.path.join(wd, "_manifests", f"{name}.json"))
        t0 = time.perf_counter()
        res = pipeline.run_dedup(self.spark, pages, workdir=wd, resume=True)
        res.assignments.count()
        res.clusters.count()
        out.resume_s = time.perf_counter() - t0
        after = assignments_checksum(_read_assignments(wd))
        if after != before:
            out.ok = False
            out.notes.append(f"resumed checksum {after} != {before}")

    def op_dir(self) -> str:
        return os.path.join(self.work, f"op-{self.n_op}")

    def op(self, keep: bool = False) -> OpResult:
        """One timed op; ``keep`` leaves its workdir (``op_dir()``) behind."""
        self.n_op += 1
        wd = self.op_dir()
        shutil.rmtree(wd, ignore_errors=True)
        if self.wl.batch_pages:
            out = self._append_op(wd)
        else:
            out = self._full_op(wd)
        if not keep:
            shutil.rmtree(wd, ignore_errors=True)
        return out

    def _full_op(self, wd: str) -> OpResult:
        t0 = time.perf_counter()
        res = pipeline.run_dedup(self.spark, self.pages, workdir=wd, resume=False)
        res.assignments.count()
        res.clusters.count()
        wall = time.perf_counter() - t0
        return self._check(_read_assignments(wd), OpResult(self.page_rows, [wall]))

    def _append_op(self, wd: str) -> OpResult:
        shutil.copytree(self.base_state, wd)
        lat = []
        # The base is generation 0 and micro-batch i is generation i; with
        # this compact_every the op's last micro-batch compacts (the library
        # default, 8, would need eight micro-batches per op).
        compact_every = len(self.batches) + 1
        for i, batch in enumerate(self.batches):
            t0 = time.perf_counter()
            streaming.process_batch(
                self.spark, batch, wd, batch_id=i + 1, compact_every=compact_every
            )
            lat.append(time.perf_counter() - t0)
        assign = streaming.read_assignments(self.spark, wd).select(
            "url", "cluster_id", "canonical_url"
        ).toPandas()
        out = self._check(assign, OpResult(sum(self.batch_rows), lat))
        compacted, _ = streaming.base_sources(wd, len(self.batches))
        if compacted != len(self.batches):
            out.ok = False
            out.notes.append(f"last compaction at generation {compacted}")
        return out


def _read_assignments(wd: str):
    return pd.read_parquet(
        os.path.join(wd, "assignments.parquet"),
        columns=["url", "cluster_id", "canonical_url"],
    )


# -- session lifetime ---------------------------------------------------------


def _shutdown(spark) -> list[int]:
    """Stop Spark, end the JVM and its Python workers, wait for all of them.
    Returns pids that had to be killed."""
    pids = descendants()
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None and proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    return reap(pids)


# -- metrics ------------------------------------------------------------------


def end_to_end(ops: list[OpResult], setup_s: float) -> tuple[dict, dict]:
    values = {
        "docs_per_s": statistics.median(o.docs_per_s for o in ops),
        "pair_recall": statistics.median(o.recall for o in ops),
        "setup_s": setup_s,
    }
    samples = {
        "docs_per_s": f"n={len(ops)} ops",
        "pair_recall": f"n={len(ops)} ops",
        "setup_s": "n=1",
    }
    return values, samples


def _stage_outputs(spans) -> tuple[dict, dict]:
    """Committed rows per stage, and the confirm counts behind the ratios,
    read from the traced op's manifests and parquet snapshots."""
    rows: dict[str, int] = {}
    counts = {"lsh_confirmed": 0, "suffix_confirmed": 0}
    for sp in spans:
        if sp.kind != "stage":
            continue
        with open(os.path.join(sp.workdir, "_manifests", f"{sp.name}.json")) as fh:
            rows[sp.name] = rows.get(sp.name, 0) + json.load(fh)["rows"]
        path = os.path.join(sp.workdir, f"{sp.name}.parquet")
        if sp.name == "verified":
            t = pq.read_table(path, columns=["status", "decided_by"])
            hit = pc.and_(
                pc.equal(t["status"], "confirmed"),
                pc.is_in(t["decided_by"], value_set=pa.array(["jaccard", "simhash"])),
            )
            counts["lsh_confirmed"] += int(pc.sum(hit).as_py() or 0)
        elif sp.name == "dup_pairs":
            t = pq.read_table(path, columns=["decided_by"])
            counts["suffix_confirmed"] += int(
                pc.sum(pc.equal(t["decided_by"], "suffix")).as_py() or 0
            )
    return rows, counts


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


# -- runs ---------------------------------------------------------------------


def _setup(wl, data_dir: str, work: str) -> tuple[Bench, float, OpResult | None]:
    """Session start, input scan and one warm-up op; returns the bench, the
    set-up seconds and the warm-up op's result.

    A full workload's warm-up is one ``run_dedup`` op: the JVM's first
    pipeline run costs about twice a later one (class loading, JIT, Python
    worker start), and the timed ops are the warm ones after it. The append
    workload's warm-up is the base commit, itself a ``process_batch`` call;
    its timed micro-batch is still the JVM's first incremental one, since a
    warm-up micro-batch (~20 s on 4 cores) does not fit the run budget.
    """
    t0 = time.perf_counter()
    bench = Bench(get_spark(), wl, data_dir, work)
    warm = None
    if wl.batch_pages:
        bench.commit_base()
    else:
        warm = bench.op()
    return bench, time.perf_counter() - t0, warm


def run(wl, seed: int, seconds: float, trace: bool, work: str, cache: str) -> dict:
    """Set up, then measure (``trace=False``) or trace one workload."""
    data_dir = materialize(wl, seed, cache)
    _progress(f"inputs ready in {data_dir}")
    bench = None
    steal0 = host_steal_s()
    try:
        bench, setup_s, warm = _setup(wl, data_dir, work)
        _progress(f"set-up done in {setup_s:.1f} s")
        if trace:
            result = _traced(bench, seed, data_dir, work)
        else:
            result = _measured(bench, seconds, setup_s)
        if warm is not None:  # checked like every op, timed by setup_s only
            _count(result, warm, "warm-up op")
    finally:
        killed = _shutdown(bench.spark if bench else None)
        _progress("Spark stopped")
    if killed:
        print(f"note: killed {len(killed)} leftover process(es)", file=sys.stderr)
    # wall times swing with the CPU time the hypervisor gives other guests
    print(f"host CPU steal during the run: {host_steal_s() - steal0:.1f} s")
    return result


def _count(result: dict, o: OpResult, what: str) -> None:
    result["attempted"] += 1
    if not o.ok:
        result["failed"] += 1
        result["correct"] = False
        print(f"{what} failed: {'; '.join(o.notes)}", file=sys.stderr)


def _measured(bench: Bench, seconds: float, setup_s: float) -> dict:
    result = {"correct": True, "attempted": 0, "failed": 0}
    ops: list[OpResult] = []
    t0 = time.perf_counter()
    while not result["attempted"] or (
        time.perf_counter() - t0 < seconds and result["attempted"] < MAX_OPS
    ):
        try:
            o = bench.op()
        except Exception:  # a failing op is counted and reported, not fatal
            traceback.print_exc()
            o = OpResult(0, [], notes=["raised"])
        else:
            ops.append(o)
        _count(result, o, f"op {result['attempted'] + 1}")
        _progress(f"op {result['attempted']} done")
    if not ops:
        raise RuntimeError("every op raised")
    values, samples = end_to_end(ops, setup_s)
    for k, unit in END_TO_END.items():
        print(f"{k} = {values[k]:.6g} {unit} ({samples[k]})")
    result["metrics"] = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    return result


def _traced(bench: Bench, seed: int, data_dir: str, work: str) -> dict:
    # After the warm-up: an untraced op on a fresh context, which is also
    # resumed (batch_p50_s, resume_s), then the same op on a fresh context
    # with the event log on and the span wrappers installed, so the two
    # compared ops run equally warm.
    bench.spark.stop()
    bench.bind(get_spark())
    with TreeMeter() as meter:
        plain = bench.op(keep=True)
    bench.resume(plain)
    shutil.rmtree(bench.op_dir(), ignore_errors=True)
    _progress("untraced op and its resume done")
    bench.spark.stop()
    log_dir = os.path.join(work, "eventlog")
    os.makedirs(log_dir, exist_ok=True)
    bench.bind(
        get_spark(
            extra_conf={
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
            }
        )
    )
    tracer = Tracer(bench.spark.sparkContext)
    with tracer.patched():
        traced = bench.op(keep=True)
    bench.spark.stop()  # flushes the event log
    _progress("traced op done")
    rows, counts = _stage_outputs(tracer.spans)
    shutil.rmtree(bench.op_dir(), ignore_errors=True)
    metrics = stage_metrics(tracer.spans, read_event_log(log_dir))
    _progress("event log read")
    # each ratio is reported next to its numerator and base
    base = {s: rows.get(s, 0) for s in ("prepared", "features", "candidates", "spans")}
    metrics.update({f"count.{s}_rows": n for s, n in base.items()})
    metrics.update(
        {
            "ratio.reps_per_doc": _ratio(base["features"], base["prepared"]),
            "ratio.candidates_per_doc": _ratio(base["candidates"], base["prepared"]),
            "ratio.lsh_confirm": _ratio(counts["lsh_confirmed"], base["candidates"]),
            "ratio.suffix_confirm": _ratio(counts["suffix_confirmed"], base["spans"]),
            "count.lsh_confirmed_pairs": counts["lsh_confirmed"],
            "count.suffix_confirmed_pairs": counts["suffix_confirmed"],
        }
    )
    metrics.update(kernel_metrics(data_dir, seed))
    _progress("kernels timed")
    metrics["trace.overhead_docs_per_s"] = plain.docs_per_s - traced.docs_per_s
    metrics["batch_p50_s"] = statistics.median(plain.latencies_s)
    metrics["resume_s"] = plain.resume_s
    # memory and CPU of the untraced op: too run-dependent (JVM heap
    # growth, JIT) to bound, so they are per-layer figures
    metrics["op.peak_rss_mb"] = meter.peak_rss / 2**20
    metrics["op.cpu_ms_per_doc"] = meter.cpu_s / plain.docs * 1e3
    for k in sorted(metrics):
        print(f"{k} = {metrics[k]:.6g} {unit_of(k)}")
    result = {"correct": True, "attempted": 0, "failed": 0}
    _count(result, plain, "untraced op")
    _count(result, traced, "traced op")
    result["metrics"] = {k: {"value": metrics[k], "unit": unit_of(k)} for k in sorted(metrics)}
    return result
