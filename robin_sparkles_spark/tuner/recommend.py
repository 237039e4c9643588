"""Tuning lifecycle — the DataFrame rebuild of Runner.getOptimizedConf
/ Runner.run (CountingApp.scala:61-101).

Reference flow: load run history → align on the max-shuffle stage →
H8 recommendation → write ``spark.default.parallelism`` → run workload
with recording listeners → metrics persist at app end.

Engine flow (one unified path instead of the reference's split
local/cluster entry points, CountingApp.scala:17-57): Spark SQL's
shuffle width is ``spark.sql.shuffle.partitions`` and it is
session-mutable, so tuning needs no SparkContext restart — we set it
via ``spark.conf.set`` before the job and record metrics afterwards
via the REST collector.
"""

from __future__ import annotations

import logging
from dataclasses import dataclass

from pyspark.sql import SparkSession

from ..metrics.collector import collect_app_metrics, current_max_stage_id
from ..metrics.store import MetricsStore
from .heuristics import (
    ComputePartitions,
    ConfView,
    StageInfo,
    stages_with_most_expensive_shuffle,
)

log = logging.getLogger(__name__)


@dataclass
class Recommendation:
    partitions: int
    next_run_id: int
    runs_considered: int


def recommend_partitions(store: MetricsStore, conf: ConfView | None = None) -> Recommendation:
    """The getOptimizedConf core over the store's run history."""
    return partitions_from_history(
        store.run_history(), conf or ConfView.from_spark(store.spark)
    )


def partitions_from_history(
    history: list[list[StageInfo]], conf: ConfView
) -> Recommendation:
    """Contiguous run history → max-shuffle stage lineage (J2) → H8.
    Returns the partition count plus the id the next recording should
    use (== number of previous runs, CountingApp.scala:80-83)."""
    target_stages = stages_with_most_expensive_shuffle(history)
    partitions = ComputePartitions(conf).from_stage_metric_shared_cluster(target_stages)
    return Recommendation(
        partitions=partitions, next_run_id=len(history), runs_considered=len(history)
    )


def apply_recommendation(spark: SparkSession, rec: Recommendation) -> None:
    """Conf injection, not plan rewriting (SURVEY.md §4): the SQL-side
    twin of the reference's ``conf.set("spark.default.parallelism", …)``
    (CountingApp.scala:77)."""
    spark.conf.set("spark.sql.shuffle.partitions", str(rec.partitions))


# -- second knob: broadcast threshold from recorded build-side size ----------
#
# The reference tunes exactly one conf from recorded metrics (shuffle
# width, H8). This extends the same record → recommend → mutate-conf →
# rerun loop (VERDICT r7 ask #7) to `spark.sql.autoBroadcastJoinThreshold`:
# if the last recorded run contains a stage that SCANNED input and then
# WROTE a shuffle (a scan→exchange map stage — i.e. a join side that
# was shuffled), and the smallest such side fits comfortably in
# executor memory, raise the threshold to cover it so the next run
# broadcasts it instead of exchanging both sides.

BROADCAST_CAP_BYTES = 512 << 20  # never recommend broadcasting > 512 MiB
BROADCAST_HEADROOM = 4  # scan bytes → plan size-estimate slop factor
BROADCAST_FLOOR_BYTES = 4 << 10


@dataclass
class BroadcastRecommendation:
    threshold_bytes: int  # -1 = no recommendation (leave conf alone)
    build_side_bytes: int  # smallest scanned-then-exchanged stage's input
    runs_considered: int


def recommend_broadcast_threshold(
    history: list[list[StageInfo]], cap_bytes: int = BROADCAST_CAP_BYTES
) -> BroadcastRecommendation:
    """Pick the broadcast threshold from the LAST recorded run: among
    stages that read input and wrote shuffle (file-scan map stages
    feeding an exchange — the shuffled join sides; pure-exchange stages
    like a post-agg shuffle read no file input and are excluded), take
    the smallest input as the observed build side. Recommend the next
    power of two above ``BROADCAST_HEADROOM ×`` that size
    (compressed-scan → plan size-estimate slop), floored at 4 KiB;
    recommend nothing when no such stage exists or the build side
    exceeds ``cap_bytes``."""
    if not history:
        return BroadcastRecommendation(-1, 0, 0)
    # bytes = MB × 2**20 is exact: the MB figure is bytes / 2**20 and
    # byte counts stay far below 2**53
    sides = [
        int(s.total_input_size_mb * (1 << 20))
        for s in history[-1]
        if s.total_input_size_mb > 0 and s.shuffle.bytes_written > 0
    ]
    build = min(sides, default=None)
    if build is None or build > cap_bytes:
        return BroadcastRecommendation(-1, build or 0, len(history))
    threshold = max(BROADCAST_FLOOR_BYTES, BROADCAST_HEADROOM * build)
    threshold = 1 << (threshold - 1).bit_length()  # next power of two
    return BroadcastRecommendation(min(threshold, cap_bytes), build, len(history))


def apply_broadcast_recommendation(
    spark: SparkSession, rec: BroadcastRecommendation
) -> None:
    """Mutate ``spark.sql.autoBroadcastJoinThreshold`` (session-level,
    no restart — same injection point as the shuffle-width knob). A
    ``threshold_bytes`` of -1 means "no evidence" and leaves the
    current conf untouched."""
    if rec.threshold_bytes > 0:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(rec.threshold_bytes)
        )


# -- third knob: skew detection from recorded task durations -----------------
#
# The same evidence loop, pointed at stragglers: a skewed join key
# shows up in the flight record as one task in a stage running far
# longer than its siblings (the reduce task that owns the hot key).
# Detection is max/median task duration per stage; mitigation is the
# AQE skew-join conf pair (runtime split) plus — reported, not
# auto-applied — the named salting helper (`functions.skew`) for the
# shapes AQE can't split (shuffle-hash feeding stateful stages).

SKEW_RATIO_THRESHOLD = 4.0  # max/median beyond this flags a stage
SKEW_MIN_TASKS = 4  # below this a max/median ratio is noise


@dataclass
class StageSkew:
    stage_id: int
    n_tasks: int
    median_ms: float
    max_ms: int
    ratio: float


@dataclass
class SkewRecommendation:
    skewed: list  # list[StageSkew], worst ratio first
    confs: dict  # AQE conf -> value to apply ("" when no skew found)
    runs_considered: int


def detect_task_skew(
    history: list[list[StageInfo]], ratio_threshold: float = SKEW_RATIO_THRESHOLD
) -> "list[StageSkew]":
    """Per-stage straggler scan of the LAST recorded run: stages with
    ≥ SKEW_MIN_TASKS tasks whose max duration is ≥ ``ratio_threshold``
    × the median. Median over an even count takes the lower-middle
    element (exact, engine-portable)."""
    if not history:
        return []
    out = []
    for s in history[-1]:
        d = sorted(s.task_durations_ms)
        if len(d) < SKEW_MIN_TASKS:
            continue
        med = float(max(d[(len(d) - 1) // 2], 1))
        ratio = d[-1] / med
        if ratio >= ratio_threshold:
            out.append(StageSkew(s.stage_id, len(d), med, d[-1], round(ratio, 2)))
    return sorted(out, key=lambda s: -s.ratio)


def recommend_skew_mitigation(
    history: list[list[StageInfo]], ratio_threshold: float = SKEW_RATIO_THRESHOLD
) -> SkewRecommendation:
    """Evidence → conf: when the last run shows straggler stages,
    recommend AQE's runtime skew split with the split factor tied to
    the OBSERVED ratio (clamped to AQE's sane range); no skew, no
    conf churn. On a contended local[*] host the max/median signal is
    compressed (every sibling task slows while the straggler hogs
    cores — measured ~2× compression at local[32]), so tests pass an
    explicit lower threshold; production keeps the default."""
    skewed = detect_task_skew(history, ratio_threshold)
    confs: dict = {}
    if skewed:
        factor = max(2, min(10, int(skewed[0].ratio // 2)))
        confs = {
            "spark.sql.adaptive.skewJoin.enabled": "true",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor": str(factor),
        }
    return SkewRecommendation(
        skewed=skewed, confs=confs, runs_considered=len(history)
    )


def apply_skew_recommendation(
    spark: SparkSession, rec: SkewRecommendation
) -> None:
    for k, v in rec.confs.items():
        spark.conf.set(k, v)


def record_run(store: MetricsStore, run_id: int, since_stage_id: int) -> bool:
    """Post-job flight-record: pull this app's stage/task metrics over
    REST and persist them as ``run=run_id``. Returns False (with a
    warning) when nothing could be recorded.

    Only stages newer than ``since_stage_id`` are recorded — the REST
    stage list is cumulative for the app, and without a watermark every
    run would re-record its predecessors' stages (per-run disjointness
    is what the reference got from fresh flight-recorder instances per
    run, Listener.scala:85-92). The watermark is the stage-id snapshot
    taken in THIS application right before the workload
    (``collector.current_max_stage_id``), so only workload stages land
    in the run; stage ids restart at 0 per app, so no watermark is ever
    derived from stored stage ids of other applications.
    """
    collected = collect_app_metrics(store.spark, since_stage_id=since_stage_id)
    if collected is None:
        return False
    stage_rows, task_rows = collected
    if not stage_rows:
        log.warning(
            "record_run(%s): no stages newer than stage_id=%s — run not recorded",
            run_id, since_stage_id,
        )
        return False
    store.write_run(run_id, stage_rows, task_rows)
    return True


@dataclass
class TuneReport:
    partitions: Recommendation
    broadcast: BroadcastRecommendation
    skew: SkewRecommendation


def auto_tune(spark: SparkSession, store: MetricsStore) -> TuneReport:
    """One evidence→conf pass over the recorded history, applying all
    three knobs: shuffle width (H8), broadcast threshold (smallest
    scanned-then-exchanged stage), and AQE skew split (straggler
    ratio). Each knob independently no-ops when its evidence is
    absent, so calling this before run 0 only applies H8's floor. The
    store is read once; every knob is a function of that history."""
    history = store.run_history()
    rec = partitions_from_history(history, ConfView.from_spark(spark))
    apply_recommendation(spark, rec)
    b = recommend_broadcast_threshold(history)
    apply_broadcast_recommendation(spark, b)
    s = recommend_skew_mitigation(history)
    apply_skew_recommendation(spark, s)
    return TuneReport(partitions=rec, broadcast=b, skew=s)


def tuned_run(spark: SparkSession, metrics_root: str, app_name: str, job) -> Recommendation:
    """End-to-end tuned execution: recommend → apply → run ``job``
    (a callable taking the SparkSession) → record. The next invocation
    sees one more run of history and ratchets the recommendation —
    additive growth while improving, argmin on overshoot (H8)."""
    store = MetricsStore(spark, metrics_root, app_name)
    rec = recommend_partitions(store)
    apply_recommendation(spark, rec)
    # Open the recording window AFTER the tuner's own bookkeeping jobs
    # (the store read above) and immediately before the workload, so
    # the recorded run contains exactly the workload's stages — J2's
    # positional alignment across runs depends on it.
    since = current_max_stage_id(spark)
    job(spark)
    if not record_run(store, rec.next_run_id, since_stage_id=since):
        log.warning(
            "tuned_run: run %s was not recorded; the next recommendation "
            "will not see this run", rec.next_run_id,
        )
    return rec
