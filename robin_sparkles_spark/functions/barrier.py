"""Reuse barriers with named size contracts (VERDICT r6 ask #6).

A "barrier" materializes a DataFrame that multiple consumers — the two
sides of a self-join, a window branch plus an aggregate branch, or the
iterations of a loop — would otherwise each recompute from scratch:
Spark performs no common-subtree elimination across self-join/union
inputs, so without the barrier every branch replays the full lineage
(measured at the original sites: ``docs_chunk_dedup`` double parquet
scan, ``embedding_similar_pairs`` 3× normalization ≈ 35% of the query,
``kmeans_fit`` re-scanning parquet every iteration).

Every barrier site in the package routes through :func:`barrier` and
declares ONE of the bound classes below — the size contract that says
what the materialized intermediate costs at 100 TB. Prior to r7 each
site carried the bound in free prose; the class name makes it
machine-checkable (``tests/test_plans.py``).

Bound classes
-------------
``domain``
    Rows bounded by a fixed VALUE DOMAIN independent of input size —
    a price grid, a shard count, band ids. O(1) in the corpus:
    executor-local storage is always fine.
``vocab``
    Bounded by vocabulary / model size — distinct words, bigram pair
    counts, BPE merge tables, centroid matrices. Grows sublinearly
    (Heaps' law) and plateaus: executor-local storage fine.
``groups``
    Bounded by the number of distinct entities the pipeline
    aggregates to — parts, graph nodes, dedup groups, filtered edge
    sets. Sublinear vs raw row count; sized by the entity domain.
``sample``
    Bounded by an explicit K / cap written into the query (top-K
    sketches, df-capped postings). Constant rows by construction.
``corpus``
    Proportional to the input corpus — per-document unit vectors,
    per-chunk fingerprints, per-doc token projections, propagation
    labels. At test scale ``localCheckpoint`` (executor memory+disk
    via the block manager) is the right call; at 100 TB a deployment
    sets ``SPARK_GRAFT_BARRIER_DIR`` and these barriers stage to
    parquet under that directory instead — fault-tolerant (a lost
    executor does not lose blocks of a non-replayable truncated
    lineage), spillable to an object store, and the natural
    persistence point anyway: a corpus-scale barrier is almost always
    an index build (ANN unit-vector index, converged dedup labels)
    that production would keep.

``tests/test_plans.py`` asserts that (a) no bare ``localCheckpoint``
call exists anywhere in the package outside this module, (b) building
every declared plan triggers corpus-class barriers only at the
documented index-build / iterative sites (the allowlist in the test),
and (c) the staging knob genuinely reroutes a corpus barrier through
parquet with identical results.
"""

from __future__ import annotations

import itertools
import logging
import os
import re

from pyspark.sql import DataFrame

log = logging.getLogger(__name__)

BOUNDS = frozenset({"domain", "vocab", "groups", "sample", "corpus"})

# (bound, note) per call, in call order — plan tests clear + inspect
# this to inventory the barriers a declared plan actually takes.
CALLS: list[tuple[str, str]] = []

# Staged corpus barriers get unique paths (iterative callers reuse the
# same note; overwriting would corrupt still-referenced prior stages).
_seq = itertools.count()


def barrier(
    df: DataFrame, bound: str, note: str, *, eager: bool = True
) -> DataFrame:
    """Materialize ``df`` for reuse under a named size contract.

    ``bound`` is one of :data:`BOUNDS` (see module docstring for the
    contract each class makes about the materialized size). ``note``
    is a short stable identifier for the site — it keys the plan
    test's allowlist and names the staged parquet directory.
    ``eager=False`` defers materialization to the first action (plan
    construction must not launch jobs — the r5 semdedup lesson).
    Staging is inherently eager, so lazy barriers NEVER stage: with
    the knob set they stay on the block manager via
    ``localCheckpoint(eager=False)`` and a warning is logged once per
    site — honoring the no-jobs-at-plan-construction contract beats
    rerouting storage (ADVICE r7).
    """
    if bound not in BOUNDS:
        raise ValueError(
            f"barrier bound {bound!r} not in {sorted(BOUNDS)} "
            f"(site: {note!r})"
        )
    CALLS.append((bound, note))
    # A/B instrument (r16, guide §1): SPARK_GRAFT_BARRIER_SKIP is a
    # comma-separated list of note substrings whose barriers become
    # no-ops for this process — lets the cold-protocol probe measure a
    # site with and without its materialization job from identical
    # code. Results are unchanged either way (a barrier only controls
    # recomputation, never values); not a production knob. Skipping a
    # corpus barrier that SPARK_GRAFT_BARRIER_DIR would stage is refused:
    # it would silently drop the staging the deployment asked for.
    skip = os.environ.get("SPARK_GRAFT_BARRIER_SKIP", "")
    stage_dir = os.environ.get("SPARK_GRAFT_BARRIER_DIR")
    if skip and any(s and s in note for s in skip.split(",")):
        if bound == "corpus" and stage_dir:
            raise ValueError(
                f"SPARK_GRAFT_BARRIER_SKIP={skip!r} skips corpus barrier "
                f"{note!r}, which SPARK_GRAFT_BARRIER_DIR={stage_dir!r} "
                "stages; unset one of the two"
            )
        return df
    if bound == "corpus":
        if stage_dir and not eager:
            log.warning(
                "corpus barrier %r is lazy (eager=False) — staging to "
                "SPARK_GRAFT_BARRIER_DIR would launch a job at plan "
                "construction, so it stays on the block manager", note,
            )
        elif stage_dir:
            # Path is unique per (application, process, call): the app
            # id keeps a restarted driver pointed at the same dir from
            # colliding with a previous run's stages (ADVICE r7); the
            # counter keeps iterative callers from overwriting still-
            # referenced prior stages. Stages accumulate by design —
            # the dir is per-deployment scratch; prune by app id.
            app = re.sub(
                r"[^a-zA-Z0-9]+", "", df.sparkSession.sparkContext.applicationId
            )[-12:]
            slug = re.sub(r"[^a-z0-9]+", "_", note.lower()).strip("_")[:60]
            path = os.path.join(stage_dir, f"{slug}_{app}_{next(_seq):04d}")
            df.write.mode("error").parquet(path)
            return df.sparkSession.read.parquet(path)
    return df.localCheckpoint(eager=eager)
