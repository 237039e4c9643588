"""Metrics store round-trip + tuner integration — the coverage the
reference left empty (MetricsCollectorApp.scala:5-7)."""

from __future__ import annotations

import pytest

from robin_sparkles_spark.metrics.store import MetricsStore
from robin_sparkles_spark.tuner.heuristics import ConfView, ComputePartitions, stages_with_most_expensive_shuffle
from robin_sparkles_spark.tuner.recommend import (
    auto_tune,
    recommend_partitions,
    record_run,
    tuned_run,
)

MB = 1024 * 1024


def synthetic_run(run: int, n_tasks: int, cpu_ms: int):
    """FIXTURES.md B: 3 stages/run, stage 1 dominates shuffle."""
    stage_rows, task_rows = [], []
    for stage_id in range(3):
        dominant = stage_id == 1
        stage_rows.append(
            {
                "stage_id": stage_id,
                "stage_duration_ms": cpu_ms + 15,
                "executor_cpu_time_ms": cpu_ms if dominant else cpu_ms * 3,
                "bytes_read": 512 * MB,
                "shuffle_bytes_written": 10_000_000 if dominant else 100,
                "shuffle_bytes_read": 1000,
            }
        )
        for t in range(n_tasks if dominant else 4):
            task_rows.append(
                {
                    "stage_id": stage_id,
                    "task_id": run * 10_000 + stage_id * 100 + t,
                    "executor_id": str(t % 3 + 1),
                    "duration_ms": 10,
                }
            )
    return stage_rows, task_rows


@pytest.fixture
def store(spark, tmp_path):
    return MetricsStore(spark, str(tmp_path), "test_app")


def test_roundtrip_and_summary(store):
    store.write_run(0, *synthetic_run(0, n_tasks=8, cpu_ms=105))
    store.write_run(1, *synthetic_run(1, n_tasks=11, cpu_ms=90))

    history = store.run_history()
    assert [[s.stage_id for s in run] for run in history] == [[0, 1, 2]] * 2
    s = history[0][1]
    assert s.num_partitions_used == 8
    assert s.total_task_time_ms == 80
    assert s.num_executors == 3          # distinct executors {1,2,3}
    assert s.total_input_size_mb == 512.0
    assert s.shuffle.bytes_written == 10_000_000


def test_gap_truncates_history(store):
    store.write_run(0, *synthetic_run(0, 8, 105))
    store.write_run(1, *synthetic_run(1, 11, 90))
    store.write_run(3, *synthetic_run(3, 17, 60))  # run 2 missing
    history = store.run_history()
    assert len(history) == 2
    assert [s.num_partitions_used for s in history[-1]] == [4, 11, 4]


def test_empty_store(store):
    assert store.run_history() == []
    rec = recommend_partitions(store, ConfView({"spark.executor.cores": "4"}, env={}))
    assert rec.partitions == 4  # H8 zero-run branch via conf defaults
    assert rec.next_run_id == 0


def test_history_alignment_and_recommendation(store):
    # Improving CPU with growing partitions on the dominant stage →
    # additive growth above both counts.
    store.write_run(0, *synthetic_run(0, 8, 105))
    store.write_run(1, *synthetic_run(1, 11, 90))

    history = store.run_history()
    target = stages_with_most_expensive_shuffle(history)
    assert [s.num_partitions_used for s in target] == [8, 11]  # stage 1 lineage

    conf = ConfView({"spark.executor.cores": "2", "spark.executor.memory": "4g"}, env={})
    rec = recommend_partitions(store, conf)
    # floor = max(round(512 / ceil(4096*0.3/2)), 2) = max(1, 2) = 2;
    # growth = max(2, 8, 11) + num_executors(3) = 14
    assert rec.partitions == 14
    assert rec.next_run_id == 2


def test_stage_without_tasks_dropped(store):
    stage_rows, task_rows = synthetic_run(0, 8, 100)
    stage_rows.append(
        {
            "stage_id": 9,
            "stage_duration_ms": 1,
            "executor_cpu_time_ms": 1,
            "bytes_read": 0,
            "shuffle_bytes_written": 0,
            "shuffle_bytes_read": 0,
        }
    )
    store.write_run(0, stage_rows, task_rows)
    # the stage↔task join drops the taskless stage (reference would
    # crash the entire run load — documented divergence, store.py
    # docstring)
    (run0,) = store.run_history()
    assert [s.stage_id for s in run0] == [0, 1, 2]


def test_live_collector_end_to_end(spark, tmp_path):
    """Run a real job, pull metrics over the driver's REST UI, persist,
    and re-recommend — the full reference lifecycle on live data."""
    from robin_sparkles_spark.metrics.collector import collect_app_metrics

    spark.range(100_000).selectExpr("id % 7 AS k").groupBy("k").count().collect()
    collected = collect_app_metrics(spark)
    if collected is None:
        pytest.skip("driver REST UI unavailable in this environment")
    stage_rows, task_rows = collected
    assert stage_rows, "expected at least one completed stage"
    assert task_rows, "expected at least one task"
    assert all(r["stage_duration_ms"] >= 0 for r in stage_rows)

    store = MetricsStore(spark, str(tmp_path), "live_app")
    store.write_run(0, stage_rows, task_rows)
    rec = recommend_partitions(store, ConfView({"spark.executor.cores": "2"}, env={}))
    assert rec.partitions >= 1
    assert rec.next_run_id == 1


def test_tuned_run_lifecycle(spark, tmp_path):
    """tuned_run ratchets across three invocations on live collected
    metrics: each run records exactly the workload's stages (not the
    tuner's bookkeeping), so runs stay positionally comparable, and
    every recommendation is reproducible from the stored history."""
    calls = []

    def job(s):
        calls.append(s.conf.get("spark.sql.shuffle.partitions"))
        s.range(10_000).selectExpr("id % 5 AS k").groupBy("k").count().collect()

    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        rec0 = tuned_run(spark, str(tmp_path), "tuned_app", job)
        assert rec0.runs_considered == 0
        rec1 = tuned_run(spark, str(tmp_path), "tuned_app", job)
        rec2 = tuned_run(spark, str(tmp_path), "tuned_app", job)
        assert len(calls) == 3
        store = MetricsStore(spark, str(tmp_path), "tuned_app")
        history = store.run_history()
        if not history:  # headless: REST UI unavailable
            return
        assert rec1.runs_considered >= 1
        assert rec2.runs_considered >= rec1.runs_considered

        # Per-job recording window ⇒ runs are positionally comparable:
        # the same job records the same stage count every time (the
        # old store-wide watermark let tuner bookkeeping stages leak
        # into later runs and skew J2's index-based alignment).
        stage_counts = {len(stages) for stages in history}
        assert len(stage_counts) == 1, f"runs not comparable: {stage_counts}"

        # The live recommendation equals H8 recomputed from the store —
        # the full read-back path agrees with what tuned_run applied.
        conf = ConfView.from_spark(spark)
        expected = ComputePartitions(conf).from_stage_metric_shared_cluster(
            stages_with_most_expensive_shuffle(history)
        )
        rec_again = recommend_partitions(store)
        assert rec_again.partitions == expected
        assert rec_again.next_run_id == len(history)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)


def test_record_run_ignores_foreign_app_watermark(spark, tmp_path):
    """Stage ids restart at 0 per Spark application, so the recording
    watermark is a snapshot of the CURRENT app's stage ids. A store
    carrying a previous process's high stage ids must not filter out a
    fresh app's low ones (the frozen-history bug: record_run would
    silently return False forever)."""
    from robin_sparkles_spark.metrics.collector import (
        collect_app_metrics,
        current_max_stage_id,
    )

    store = MetricsStore(spark, str(tmp_path), "restart_app")
    stage_rows, task_rows = synthetic_run(0, 8, 100)
    for r in stage_rows:
        r["app_id"] = "application_prior_process_0001"
        r["stage_id"] += 5_000_000  # far above anything this app will reach
    for r in task_rows:
        r["stage_id"] += 5_000_000
    store.write_run(0, stage_rows, task_rows)

    since = current_max_stage_id(spark)
    spark.range(50_000).selectExpr("id % 3 AS k").groupBy("k").count().collect()
    recorded = record_run(store, 1, since)
    if collect_app_metrics(spark) is None:
        pytest.skip("driver REST UI unavailable in this environment")
    # with a live UI the fresh app's stages must be recorded despite the
    # foreign high-water mark
    assert recorded is True
    assert len(store.run_history()) == 2


def _jobs_launched(spark, fn) -> int:
    """Spark jobs ``fn`` launches, counted through a job group."""
    import uuid

    from robin_sparkles_spark.metrics.collector import _drain_listener_bus

    sc = spark.sparkContext
    group = f"job_count_{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count probe")
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    _drain_listener_bus(spark, timeout=10.0)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_tuner_reads_history_in_two_jobs(spark, store):
    """The tuner's own cost stays small next to the job it tunes: the
    store is scanned once per table (fixed schemas, no inference job)
    and every knob is computed from that one history on the driver."""
    for run, (n_tasks, cpu_ms) in enumerate([(8, 105), (11, 90), (14, 80)]):
        store.write_run(run, *synthetic_run(run, n_tasks, cpu_ms))
    confs = (
        "spark.sql.shuffle.partitions",
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.skewJoin.enabled",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
    )
    before = {k: spark.conf.get(k) for k in confs}
    try:
        assert _jobs_launched(spark, lambda: recommend_partitions(store)) <= 2
        assert _jobs_launched(spark, lambda: auto_tune(spark, store)) <= 2
    finally:
        for k, v in before.items():
            spark.conf.set(k, v)


class _HeadlessSC:
    uiWebUrl = None
    applicationId = "app-headless-test"


class _HeadlessSpark:
    sparkContext = _HeadlessSC()


def test_headless_collector_is_loud(caplog):
    """spark.ui.enabled=false must not silently drop the tuner's
    input (ADVICE r01 low): collect_app_metrics returns None AND
    logs a warning naming the cause."""
    import logging

    from robin_sparkles_spark.metrics.collector import collect_app_metrics

    with caplog.at_level(
        logging.WARNING, logger="robin_sparkles_spark.metrics.collector"
    ):
        assert collect_app_metrics(_HeadlessSpark()) is None
    assert any("UI disabled" in r.message for r in caplog.records)
