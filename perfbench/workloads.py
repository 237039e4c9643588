"""The benchmark workloads.

Each workload drives the engine's public entry points over generated
inputs: ``stage`` (the program's one-time fits), ``warm`` (one full
pass whose outputs are kept for the check), ``run_call`` (one timed
call), ``check`` (outputs against an independent answer, untimed) and
``traced`` (one more pass with every call split into spans and Spark's
counters read per call). A call that raises is counted as failed; the
run goes on.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

from robin_sparkles_spark import registry
from robin_sparkles_spark.app import APP_NAME, run_counting_app
from robin_sparkles_spark.metrics.collector import (
    collect_app_metrics,
    current_max_stage_id,
)
from robin_sparkles_spark.metrics.store import MetricsStore
from robin_sparkles_spark.operators.wordcount import with_stop_words_filtered
from robin_sparkles_spark.sources.tables import read_text
from robin_sparkles_spark.tuner.recommend import (
    apply_recommendation,
    recommend_partitions,
)

from oracle import corpus_word_counts, duckdb_frame, mismatch, sink_word_counts
from spans import RestCounters, Tracer

MB = 1e6


def dir_bytes(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


class Workload:
    calls: list[str]

    def __init__(self):
        self.failures: list[str] = []

    def attempt(self, label: str, fn) -> int:
        """Run ``fn``; 1 if it raised (recorded in ``failures``), else 0."""
        try:
            fn()
        except Exception as exc:  # noqa: BLE001 - a failed call is counted, not fatal
            self.failures.append(f"{label}: {type(exc).__name__}: {exc}")
            return 1
        return 0

    def stage(self, spark, data: str) -> None:
        pass

    def new_pass(self, work: str, tag: str) -> None:
        pass

    def end_pass(self) -> int:
        return 0

    def report(self) -> list[str]:
        """Context lines printed with the run's metrics."""
        return []


class QueryWorkload(Workload):
    """Declared registry queries; one call is one query written to the
    ``noop`` sink, which materializes every column (``count()`` would
    let the optimizer prune them)."""

    def __init__(self, queries: list[str]):
        super().__init__()
        self.calls = queries
        self.results: dict = {}
        self.warm_s: dict[str, float] = {}

    def _frame(self, spark, data: str, q: str):
        return registry.all_queries()[q].fn(spark, data)

    def warm(self, spark, data: str, work: str) -> int:
        """One pass that keeps each query's output for the check."""
        def keep(q: str) -> None:
            self.results[q] = self._frame(spark, data, q).toPandas()

        failed = 0
        for q in self.calls:
            t0 = time.perf_counter()
            failed += self.attempt(q, lambda: keep(q))
            self.warm_s[q] = time.perf_counter() - t0
        return failed

    def run_call(self, spark, data: str, q: str) -> None:
        self._frame(spark, data, q).write.format("noop").mode("overwrite").save()

    def report(self) -> list[str]:
        return [
            "warm-up calls " + ", ".join(f"{q} {s:.3f} s" for q, s in self.warm_s.items()),
            "result rows " + ", ".join(f"{q} {len(r)}" for q, r in self.results.items()),
        ]

    def check(self, spark, data: str, work: str) -> int:
        """Each warm-up output against the query's DuckDB oracle."""
        failed = 0
        for q, actual in self.results.items():
            sql = registry.resolve_oracle(registry.all_queries()[q].oracle, data)
            why = mismatch(actual, duckdb_frame(data, sql))
            if why:
                self.failures.append(f"{q}: {why}")
                failed += 1
        return failed

    def traced(self, spark, data: str, work: str, tracer: Tracer, rest: RestCounters):
        failed = 0
        groups = [f"t{i}:{q}" for i, q in enumerate(self.calls)]
        with tracer.span("pass", "pass") as whole:
            for q, g in zip(self.calls, groups):
                with tracer.span(f"operators.{q}", g, group=g):
                    failed += self.attempt(q, lambda: self.run_call(spark, data, q))
        per = rest.by_group(rest.snapshot(), set(groups)).values()
        out = {f"operators.{q}_s": tracer.durations(f"operators.{q}")[0] for q in self.calls}
        result_rows = sum(len(r) for r in self.results.values())
        out.update(operator_counters(per, result_rows))
        out.update(session_counters(per, whole["end"] - whole["start"], spark))
        return out, failed


class NearDupWorkload(QueryWorkload):
    """Near-duplicate and vector search. The k-means fit behind the IVF
    pairs query and the shared unit-vector ANN index are the program's
    one-time staging."""

    def stage(self, spark, data: str) -> None:
        from robin_sparkles_spark.operators.clustering import _embeddings_k, kmeans_fit
        from robin_sparkles_spark.operators.similarity import unit_vector_index

        kmeans_fit(spark, data, k=_embeddings_k(spark, data))
        unit_vector_index(spark, data)

    def traced(self, spark, data, work, tracer, rest):
        out, failed = super().traced(spark, data, work, tracer, rest)
        out.update(kernel_rates(spark, data, tracer))
        return out, failed


def kernel_rates(spark, data: str, tracer: Tracer, reps: int = 3) -> dict:
    """Rows per second of the vector fold in ``functions.vectors`` and
    of the signature folds in ``operators.dedup``, over the generated
    inputs, written to the ``noop`` sink; median of ``reps``."""
    from pyspark.sql import functions as F

    from robin_sparkles_spark.functions.vectors import dot
    from robin_sparkles_spark.operators.dedup import minhash_signatures, simhash_docs
    from robin_sparkles_spark.sources.tables import load_table

    e = load_table(spark, data, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    n_vec = e.count()
    # each vector paired with its 8 successors by id
    pairs = (
        e.crossJoin(spark.range(1, 9).withColumnRenamed("id", "off"))
        .select(((F.col("vec_id") + F.col("off")) % n_vec).alias("other"), F.col("v").alias("a"))
        .join(e.select(F.col("vec_id").alias("other"), F.col("v").alias("b")), "other")
        .localCheckpoint()
    )
    n_pairs = pairs.count()
    n_docs = load_table(spark, data, "documents").count()
    out = {}
    for metric, frame, n in (
        ("functions.dot_rows_per_s", lambda: pairs.select(dot(F.col("a"), F.col("b"))), n_pairs),
        ("functions.minhash_docs_per_s", lambda: minhash_signatures(spark, data), n_docs),
        ("functions.simhash_docs_per_s", lambda: simhash_docs(spark, data), n_docs),
    ):
        for _ in range(reps):
            with tracer.span(metric, "kernels", group="kernels"):
                frame().write.format("noop").mode("overwrite").save()
        out[metric] = n / statistics.median(tracer.durations(metric))
    pairs.unpersist()
    return out


class TunedWordCount(Workload):
    """The CountingApp lifecycle: each pass starts from an empty
    metrics store and makes ``runs`` consecutive tuned runs through
    ``app.run_counting_app``; one call is one tuned run."""

    def __init__(self, runs: int):
        super().__init__()
        self.calls = [f"run{i}" for i in range(runs)]

    def new_pass(self, work: str, tag: str) -> None:
        self.store = os.path.join(work, f"store-{tag}")
        self.sink = os.path.join(work, "sink")

    def run_call(self, spark, data: str, call: str) -> None:
        run_counting_app(spark, os.path.join(data, "corpus.txt"), self.sink, self.store)

    def end_pass(self) -> int:
        """Count the pass's runs missing from its store, then drop it."""
        missing = 0
        for i in range(len(self.calls)):
            for table in ("stage_metrics", "task_metrics"):
                if not os.path.isdir(os.path.join(self.store, APP_NAME, table, f"run={i}")):
                    self.failures.append(f"run {i}: not recorded ({table})")
                    missing += 1
                    break
        shutil.rmtree(self.store, ignore_errors=True)
        return missing

    def warm(self, spark, data: str, work: str) -> int:
        self.new_pass(work, "warm")
        failed = sum(self.attempt(c, lambda: self.run_call(spark, data, c)) for c in self.calls)
        return failed + self.end_pass()

    def check(self, spark, data: str, work: str) -> int:
        """The latest run's sink against an independent count."""
        want = corpus_word_counts(os.path.join(data, "corpus.txt"))
        got = sink_word_counts(self.sink)
        if got != want:
            differ = len((got - want) + (want - got))
            self.failures.append(f"sink differs from the corpus count on {differ} words")
            return 1
        return 0

    def traced(self, spark, data: str, work: str, tracer: Tracer, rest: RestCounters):
        """One pass with each tuned run split the way ``record_run``
        orders it: recommend → stage-id snapshot → job → collect → write."""
        self.new_pass(work, "traced")
        corpus = os.path.join(data, "corpus.txt")
        steps = ("recommend", "snapshot", "collect", "write")
        acc = {"fetched": 0, "recorded": 0, "recs": []}

        def tuned_run(c: str) -> None:
            store = MetricsStore(spark, self.store, APP_NAME)
            tracer.wrap(store, "run_history", "metrics.store_read", c)
            with tracer.span("tuner.recommend", c, group=f"{c}:recommend"):
                rec = recommend_partitions(store)
            apply_recommendation(spark, rec)
            acc["recs"].append(rec)
            with tracer.span("metrics.snapshot", c, group=f"{c}:snapshot"):
                since = current_max_stage_id(spark)
            with tracer.span("operators.wordcount_job", c, group=f"{c}:job"):
                with_stop_words_filtered(read_text(spark, corpus)).write.mode("overwrite").parquet(
                    self.sink
                )
            acc["fetched"] += rest.completed_stages()
            with tracer.span("tuner.record", c):
                with tracer.span("metrics.collect", c, group=f"{c}:collect"):
                    got = collect_app_metrics(spark, since_stage_id=since)
                if got and got[0]:
                    acc["recorded"] += len(got[0])
                    with tracer.span("metrics.store_write", c, group=f"{c}:write"):
                        store.write_run(rec.next_run_id, *got)

        failed = 0
        with tracer.span("pass", "pass") as whole:
            for c in self.calls:
                with tracer.span("tuned_run", c):
                    failed += self.attempt(c, lambda: tuned_run(c))
        files, size = dir_bytes(self.store)
        failed += self.end_pass()
        per = rest.by_group(
            rest.snapshot(), {f"{c}:{s}" for c in self.calls for s in steps + ("job",)}
        )
        job = [per[f"{c}:job"] for c in self.calls]
        d = tracer.durations

        def med(name: str) -> float:
            return statistics.median(d(name) or [0.0])

        bookkeeping = sum(d("tuner.recommend") + d("metrics.snapshot") + d("tuner.record"))
        recs = acc["recs"]
        out = {
            "tuner.recommend_s": med("tuner.recommend"),
            "tuner.record_s": med("tuner.record"),
            "tuner.overhead_share": bookkeeping / sum(d("tuned_run")),
            "tuner.bookkeeping_jobs": statistics.median(
                sum(per[f"{c}:{s}"]["jobs"] for s in steps) for c in self.calls
            ),
            "tuner.recommended_partitions": recs[-1].partitions if recs else 0,
            "tuner.history_runs": recs[-1].runs_considered if recs else 0,
            "metrics.snapshot_s": med("metrics.snapshot"),
            "metrics.collect_s": med("metrics.collect"),
            "metrics.stages_fetched": acc["fetched"],
            "metrics.stages_recorded": acc["recorded"],
            "metrics.collect_useful_ratio": acc["recorded"] / max(acc["fetched"], 1),
            "metrics.store_write_s": med("metrics.store_write"),
            "metrics.store_read_s": med("metrics.store_read"),
            "metrics.store_files": files,
            "metrics.store_bytes": size,
            "operators.wordcount_job_s": med("operators.wordcount_job"),
            "sources.output_mb": (size + dir_bytes(self.sink)[1]) / MB,
        }
        out.update(operator_counters(job, len(sink_word_counts(self.sink)) * len(job)))
        out.update(session_counters(per.values(), whole["end"] - whole["start"], spark))
        return out, failed


def operator_counters(groups, result_rows: int) -> dict:
    """Summed SQL operator output rows, the share of them that are
    result rows, and shuffle/spill volume."""
    groups = list(groups)
    rows = sum(c["rows"] for c in groups)
    return {
        "operators.rows_processed": rows,
        "operators.useful_row_ratio": result_rows / rows if rows else 0.0,
        "operators.shuffle_write_mb": sum(c["shuffle_write"] for c in groups) / MB,
        "operators.shuffle_read_mb": sum(c["shuffle_read"] for c in groups) / MB,
        "operators.spill_mb": sum(c["spill"] for c in groups) / MB,
    }


def session_counters(groups, wall: float, spark) -> dict:
    """Scheduling counts and executor time against wall time × cores."""
    groups = list(groups)
    cores = spark.sparkContext.defaultParallelism
    return {
        "session.jobs": sum(c["jobs"] for c in groups),
        "session.stages": sum(c["stages"] for c in groups),
        "session.tasks": sum(c["tasks"] for c in groups),
        "session.executor_busy_share": sum(c["run_ms"] for c in groups) / 1000 / (wall * cores),
        "session.executor_cpu_s": sum(c["cpu_ns"] for c in groups) / 1e9,
        "session.executor_gc_s": sum(c["gc_ms"] for c in groups) / 1000,
    }


STAR_QUERIES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "top_customers_revenue",
    "order_lineitem_rollup",
    "window_running_user_spend",
    "events_user_stats",
    "events_tumbling_1h",
    "user_sessions",
    "orders_asof_last_event",
]
NEAR_DUP_QUERIES = [
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "embedding_similar_pairs_ivf",
    "ann_lsh_topk",
    "text_top_terms",
]
TUNED_RUNS = 3


def make(name: str) -> Workload:
    if name == "tuned_wordcount":
        return TunedWordCount(TUNED_RUNS)
    if name == "near_dup_search":
        return NearDupWorkload(NEAR_DUP_QUERIES)
    if name == "star_join_analytics":
        return QueryWorkload(STAR_QUERIES)
    raise KeyError(name)
