"""Skew-salting and streaming metrics ingestion tests."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from robin_sparkles_spark.functions.skew import salted_join
from robin_sparkles_spark.metrics.store import MetricsStore
from robin_sparkles_spark.sources import load_table
from robin_sparkles_spark.streaming.metrics_ingest import (
    rolling_run_summary,
    stage_metrics_stream,
)

from .test_metrics_store import synthetic_run


def test_salted_join_equals_plain_join(spark, sf_dir):
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")

    plain = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"), F.sum("l_quantity").alias("q"))
    )
    salted = (
        salted_join(
            lineitem.withColumnRenamed("l_orderkey", "k"),
            orders.withColumnRenamed("o_orderkey", "k"),
            on=["k"],
            n_salts=8,
        )
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"), F.sum("l_quantity").alias("q"))
    )
    a = {r.o_orderstatus: (r.n, r.q) for r in plain.collect()}
    b = {r.o_orderstatus: (r.n, r.q) for r in salted.collect()}
    assert a == b


def test_salted_join_spreads_keys(spark):
    # a pathologically skewed fact: one key carries 90% of rows
    fact = spark.range(10_000).selectExpr(
        "IF(id < 9000, 1, id) AS k", "id AS payload"
    )
    dim = spark.range(10_000).selectExpr("id AS k", "id * 2 AS attr")
    out = salted_join(fact, dim, on=["k"], n_salts=8)
    assert out.count() == 10_000


def test_streaming_metrics_ingest(spark, tmp_path):
    """Write runs into the store, stream them back, check the rolling
    summary matches the per-run stage totals written."""
    store = MetricsStore(spark, str(tmp_path), "stream_app")
    store.write_run(0, *synthetic_run(0, n_tasks=8, cpu_ms=105))
    store.write_run(1, *synthetic_run(1, n_tasks=11, cpu_ms=90))

    summary = rolling_run_summary(stage_metrics_stream(spark, store))
    q = (
        summary.writeStream.outputMode("complete")
        .format("memory")
        .queryName("t_metrics_ingest")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = {
        r.run: (r.n_stages, r.total_cpu_ms)
        for r in spark.sql("SELECT * FROM t_metrics_ingest").collect()
    }
    assert set(rows) == {0, 1}
    assert rows[0][0] == 3  # 3 stages per run
    assert rows[1][1] == 90 + 90 * 3 * 2  # dominant 90 + two others at 270


def test_foreachbatch_summary_sink_is_idempotent(spark, tmp_path):
    """foreachBatch + dynamic partition overwrite: summaries land as
    run partitions, and restarting the stream over the same source
    (fresh checkpoint → full replay) leaves the table unchanged —
    the at-least-once idempotency the sink exists for."""
    from robin_sparkles_spark.streaming.metrics_ingest import summarize_to_parquet

    store = MetricsStore(spark, str(tmp_path), "fb_app")
    store.write_run(0, *synthetic_run(0, n_tasks=8, cpu_ms=105))
    store.write_run(1, *synthetic_run(1, n_tasks=11, cpu_ms=90))
    out = str(tmp_path / "summary")

    def run_once(tag: str) -> dict:
        q = summarize_to_parquet(
            stage_metrics_stream(spark, store), store, out, str(tmp_path / f"ckpt_{tag}")
        )
        q.awaitTermination()
        return {
            r.run: (r.n_stages, r.total_cpu_ms)
            for r in spark.read.parquet(out).collect()
        }

    first = run_once("a")
    assert set(first) == {0, 1} and first[0][0] == 3
    second = run_once("b")  # full replay with a fresh checkpoint
    assert second == first


def test_foreachbatch_summary_correct_when_run_straddles_batches(spark, tmp_path):
    """A run whose partition holds multiple files must not be
    overwritten with a partial summary when maxFilesPerTrigger splits
    its files across micro-batches (ADVICE r02): the sink re-reads the
    full store partition for each run in the batch, so the last write
    for a run always covers all of its rows."""
    from robin_sparkles_spark.streaming.metrics_ingest import summarize_to_parquet

    store = MetricsStore(spark, str(tmp_path), "straddle_app")
    stage_rows, task_rows = synthetic_run(0, n_tasks=8, cpu_ms=105)
    # Write each stage row as its own file inside run=0 so a
    # one-file-per-trigger stream is guaranteed to straddle the run.
    for i, row in enumerate(stage_rows):
        df = spark.createDataFrame(
            [{"app_id": "", **row, "run": 0}], schema=store.stage_metrics().schema
        ).coalesce(1)
        mode = "overwrite" if i == 0 else "append"
        df.write.mode(mode).partitionBy("run").option(
            "partitionOverwriteMode", "dynamic"
        ).parquet(store.stage_path)
    n_files = len(
        [
            f
            for f in os.listdir(f"{store.stage_path}/run=0")
            if f.endswith(".parquet")
        ]
    )
    assert n_files >= 2, "fixture must straddle micro-batches"

    out = str(tmp_path / "summary")
    q = summarize_to_parquet(
        stage_metrics_stream(spark, store, max_files_per_trigger=1),
        store,
        out,
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination()
    rows = {r.run: r.n_stages for r in spark.read.parquet(out).collect()}
    assert rows == {0: len(stage_rows)}
