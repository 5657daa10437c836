"""Span / job-group attribution on a tiny corpus, end to end through the
Spark event log."""

import pytest

from dedupbench.tracing import (
    STAGES,
    Span,
    Tracer,
    GroupTotals,
    read_event_log,
    stage_metrics,
)

PIPELINE_STAGES = (
    "prepared", "exact_pairs", "features", "keys", "candidates",
    "verified", "spans", "dup_pairs", "assignments", "clusters",
)


@pytest.fixture(scope="module")
def traced_run(tmp_path_factory):
    from sift_kg_spark import get_spark, pipeline, tableio
    from sift_kg_spark.fixtures import generate_corpus

    tmp = tmp_path_factory.mktemp("trace")
    log_dir = tmp / "eventlog"
    log_dir.mkdir()
    spark = get_spark(
        app_name="dedupbench_trace_test",
        cores=2,
        shuffle_partitions=2,
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{log_dir}",
            "spark.eventLog.compress": "false",
        },
    )
    try:
        pages = spark.createDataFrame(
            generate_corpus(80, seed=5)[0].drop(columns=["true_text"])
        )
        pages.count()  # outside every span
        tracer = Tracer(spark.sparkContext)
        orig = (tableio.StageStore.stage, pipeline.run_dedup)
        with tracer.patched():
            res = pipeline.run_dedup(spark, pages, workdir=str(tmp / "wd"), resume=False)
            res.assignments.count()
        restored = (tableio.StageStore.stage, pipeline.run_dedup) == orig
    finally:
        spark.stop()
    return tracer.spans, read_event_log(str(log_dir)), restored


def test_patches_are_removed(traced_run):
    assert traced_run[2]


def test_one_stage_span_per_pipeline_stage_under_run_dedup(traced_run):
    spans, _, _ = traced_run
    roots = [sp for sp in spans if sp.parent is None]
    assert [sp.name for sp in roots] == ["run_dedup"]
    stages = [sp for sp in spans if sp.kind == "stage"]
    assert {sp.name for sp in stages} >= set(PIPELINE_STAGES)
    assert all(sp.parent == roots[0].id for sp in stages)
    assert sum(sp.wall_s for sp in stages) <= roots[0].wall_s


def test_jobs_attribute_to_spans(traced_run):
    spans, groups, _ = traced_run
    ids = {sp.id for sp in spans}
    # every job group seen in the log is one of the spans'; nothing leaks
    # from the untraced count before the op
    assert set(groups) <= ids
    by_name = {sp.name: sp for sp in spans if sp.kind == "stage"}
    for name in PIPELINE_STAGES:
        g = groups.get(by_name[name].id)
        assert g is not None and g.jobs >= 1, name
        assert len(g.durations_ms) >= 1, name
    m = stage_metrics(spans, groups)
    assert m["total.jobs"] == sum(g.jobs for g in groups.values())
    assert m["stage.prepared.jobs"] == groups[by_name["prepared"].id].jobs
    assert m["stage.assignments_delta.jobs"] == 0
    assert set(f"stage.{s}.task_skew" for s in STAGES) <= set(m)


def test_stage_metrics_sums_and_self_time():
    spans = [
        Span("p", "process_batch", "entry", None, 0.0, 10.0, 8.0),
        Span("r", "run_dedup_incremental", "entry", "p", 1.0, 7.0, 6.0),
        Span("a", "prepared", "stage", "r", 1.0, 3.0, 2.0),
        Span("b", "prepared", "stage", "r", 3.0, 4.0, 1.0),
    ]
    groups = {
        "a": GroupTotals(jobs=2, durations_ms=[10, 10, 40], gc_ms=500, shuffle_write=7),
        "b": GroupTotals(jobs=1, durations_ms=[10], spill=3),
        "p": GroupTotals(jobs=4),
    }
    m = stage_metrics(spans, groups)
    assert m["stage.prepared.wall_s"] == 3.0
    assert m["stage.prepared.cpu_core_s"] == 3.0
    assert m["stage.prepared.jobs"] == 3
    assert m["stage.prepared.tasks"] == 4
    assert m["stage.prepared.task_skew"] == 4.0
    assert m["stage.prepared.gc_core_s"] == 0.5
    assert m["stage.prepared.shuffle_write_bytes"] == 7
    assert m["stage.prepared.spill_bytes"] == 3
    assert m["process_batch.self_s"] == 4.0
    assert m["total.cpu_core_s"] == 8.0
    assert m["total.jobs"] == 7
