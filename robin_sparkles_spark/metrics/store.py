"""Parquet-backed metrics store (S5–S8 in SURVEY.md §2.1).

Layout: ``{root}/{app_name}/stage_metrics/run=N/…parquet`` and
``…/task_metrics/run=N/…`` — the DataFrame rebuild of the reference's
``$metricsDir/$appName/{stage_metrics,task_metrics}`` with per-run
subpaths (Listener.scala:28-42).

Semantics preserved:
- run history is the *contiguous prefix* 0..N: the reference loads
  runs lazily until the first missing/corrupt one truncates history
  (CountingApp.scala:65-68, Listener.scala:68-74). A run missing
  either table counts as missing.
- a stage with no tasks disappears from the history — the reference
  instead crashed the whole run load on the unguarded ``taskMap(k)``
  lookup (Listener.scala:66); documented divergence.

Scale: one row per stage and per task of each recorded run, never per
record of data. The history is read the way the reference loads it
(Listener.scala:59-75): each table is scanned once with its fixed
schema (no inference job) and collected, and the stage↔task join (J1)
plus the per-stage task aggregates run on the driver over those rows.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..tuner.heuristics import ShuffleSize, StageInfo
from .schema import STAGE_METRICS_SCHEMA, TASK_METRICS_SCHEMA


class MetricsStore:
    def __init__(self, spark: SparkSession, root: str, app_name: str):
        self.spark = spark
        self.root = root
        self.app_name = app_name

    # -- paths ---------------------------------------------------------------
    @property
    def stage_path(self) -> str:
        return os.path.join(self.root, self.app_name, "stage_metrics")

    @property
    def task_path(self) -> str:
        return os.path.join(self.root, self.app_name, "task_metrics")

    # -- write (S5) ----------------------------------------------------------
    def write_run(self, run: int, stage_rows: list[dict], task_rows: list[dict]) -> None:
        """Persist one run's metrics. Rows come from the collector
        (driver-side REST/event-log data — inherently small: one row per
        stage/task, not per record). ``app_id`` (stamped by the
        collector) records which Spark application produced each run —
        stage ids restart per app, so cross-run stage comparisons are
        only valid within one app_id."""
        stage_df = self.spark.createDataFrame(
            [{"app_id": "", **r, "run": run} for r in stage_rows],
            schema=STAGE_METRICS_SCHEMA,
        )
        task_df = self.spark.createDataFrame(
            [{**r, "run": run} for r in task_rows], schema=TASK_METRICS_SCHEMA
        )
        # Overwrite just this run's partition, not the whole store.
        for df, path in ((stage_df, self.stage_path), (task_df, self.task_path)):
            (
                df.write.mode("overwrite")
                .partitionBy("run")
                .option("partitionOverwriteMode", "dynamic")
                .parquet(path)
            )

    # -- read (S6, S7) -------------------------------------------------------
    def _read(self, path: str, schema) -> DataFrame:
        # Local fs check is fine here; on HDFS/S3 the parquet reader's
        # own discovery handles it.
        if not os.path.exists(path):
            return self.spark.createDataFrame([], schema=schema)
        return self.spark.read.schema(schema).parquet(path)

    def stage_metrics(self) -> DataFrame:
        return self._read(self.stage_path, STAGE_METRICS_SCHEMA)

    def task_metrics(self) -> DataFrame:
        return self._read(self.task_path, TASK_METRICS_SCHEMA)

    def run_history(self) -> list[list[StageInfo]]:
        """The tuner's input: the contiguous-prefix run history (S7) as
        StageInfo lists ordered by stage_id, one list per run.

        One scan per table; everything after is driver-side over the
        collected rows: the prefix cut (a gap truncates history like
        Stream.takeWhile, CountingApp.scala:65-68), the stage↔task
        equi-join on (run, stage_id) (J1) and the per-stage task
        aggregates A2–A4 (Listener.scala:59-75 → StageInfo.apply,
        ComputePartitions.scala:38-50)."""
        stage_rows = self.stage_metrics().collect()
        if not stage_rows:
            return []
        durations: dict[tuple[int, int], list[int]] = {}
        executors: dict[tuple[int, int], set[str]] = {}
        for t in self.task_metrics().collect():
            key = (t.run, t.stage_id)
            durations.setdefault(key, []).append(t.duration_ms)
            executors.setdefault(key, set()).add(t.executor_id)

        present = {r.run for r in stage_rows} & {run for run, _ in durations}
        n_runs = 0
        while n_runs in present:
            n_runs += 1
        history: list[list[StageInfo]] = [[] for _ in range(n_runs)]
        for r in sorted(stage_rows, key=lambda r: (r.run, r.stage_id)):
            key = (r.run, r.stage_id)
            if r.run >= n_runs or key not in durations:
                continue  # past the prefix, or a taskless stage
            history[r.run].append(
                StageInfo(
                    executor_cpu_time_ms=r.executor_cpu_time_ms,
                    stage_time_ms=r.stage_duration_ms,
                    total_input_size_mb=r.bytes_read / (1024.0 * 1024.0),  # A7
                    num_executors=len(executors[key]),
                    shuffle=ShuffleSize(
                        bytes_written=r.shuffle_bytes_written,
                        bytes_read=r.shuffle_bytes_read,
                    ),
                    task_durations_ms=tuple(durations[key]),
                    stage_id=r.stage_id,
                )
            )
        return history
