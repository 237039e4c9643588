"""Plan-shape audits: prove the headline queries compile to the plans
a 100 TB deployment needs (pushdown, pruning, broadcast, no Python in
the data path)."""

from __future__ import annotations

import pytest

from robin_sparkles_spark.operators import dedup, relational, similarity
from robin_sparkles_spark.plans import audit_plan


def test_part_filter_pushdown_and_pruning(spark, sf_dir):
    a = audit_plan(relational.part_filter_projection(spark, sf_dir))
    # filter reached the parquet reader
    assert a.pushed_filters, a.formatted
    assert any("p_size" in f for f in a.pushed_filters)
    # column pruning: 2-of-6-column read, not SELECT *
    cols = a.read_columns()
    assert "p_retailprice" in cols
    assert "p_name" in cols
    assert "p_type" not in cols, f"column pruning failed: {cols}"


def test_q1_scan_pruning_and_codegen(spark, sf_dir):
    a = audit_plan(relational.q1_pricing_summary(spark, sf_dir), execute=True)
    assert a.pushed_filters  # l_shipdate predicate at the scan
    assert "l_orderkey" not in a.read_columns()  # unused column pruned
    assert a.has_codegen
    assert not a.has_python_eval


def test_q3_broadcasts_dimensions(spark, sf_dir):
    a = audit_plan(relational.q3_shipping_priority(spark, sf_dir))
    assert a.broadcast_joins >= 1, a.formatted  # customer dim broadcast
    assert not a.has_python_eval


def test_q5_star_join_broadcasts(spark, sf_dir):
    a = audit_plan(relational.q5_region_revenue(spark, sf_dir))
    # supplier/customer/nation/region should all be broadcast
    assert a.broadcast_joins >= 3, a.formatted
    assert not a.has_python_eval


def test_q19_disjunction_pushed_to_both_scans(spark, sf_dir):
    """Q19's three OR-ed brand/size/quantity baskets must be
    decomposed per side and pushed to BOTH parquet scans (the
    lineitem side gets the quantity disjunction, the part side the
    brand/size disjunction) — the point of the Q19 shape."""
    from robin_sparkles_spark.operators import relational4

    a = audit_plan(relational4.q19_disjunctive_revenue(spark, sf_dir))
    pushed = "\n".join(a.pushed_filters)
    assert "l_quantity" in pushed, a.formatted
    assert "p_brand" in pushed and "p_size" in pushed, a.formatted
    assert a.broadcast_joins >= 1  # part side broadcast


def test_semi_anti_join_shapes(spark, sf_dir):
    semi = audit_plan(relational.customers_with_big_orders(spark, sf_dir))
    assert "LeftSemi" in semi.formatted
    anti = audit_plan(relational.customers_without_urgent_orders(spark, sf_dir))
    assert "LeftAnti" in anti.formatted


# The sanctioned Python path (SURVEY.md §2.10 exception): byte-format
# decode has no Catalyst expression, so exactly these queries may run
# an Arrow-batched MapInPandas kernel — and nothing else may.
MAP_IN_PANDAS_ALLOWLIST = {
    "bmp_decode_stats",
    "wav_decode_stats",
    "tiff_frame_sample",
    "png_decode_stats",
    # r7 structural container parsers (ISO BMFF / MPEG frames / JFIF
    # markers) — byte parses like the decode kernels
    "mp4_box_stats",
    "mp3_frame_stats",
    "jpeg_marker_stats",
    "jpeg_entropy_stats",
    # r8: full pixel decode (dequant + integer IDCT + clamp) and the
    # progressive DC-scan preview decode
    "jpeg_pixel_stats",
    "jpeg_progressive_dc_stats",
    # r9: full progressive decode (multi-scan spectral selection with
    # EOB-run codes, then the shared integer-IDCT pixel stage) and the
    # successive-approximation (bit-plane refinement) variant
    "jpeg_progressive_pixel_stats",
    "jpeg_progressive_sa_stats",
    # r9: the resize / frame-feature preprocessing stages (integer box
    # filter; energy + zero-crossing frames)
    "bmp_resize_stats",
    "wav_frame_features",
    # r7 archive/web-corpus parsers (WARC records, ZIP central
    # directory + DEFLATE members, ustar headers)
    "warc_record_stats",
    # r8: record-gzipped WARC (the Common Crawl wire format) — per-file
    # stats + the cardinality-expanding per-member explosion
    "warc_gzip_stats",
    "warc_gz_member_stats",
    # r8: zstd-framed WARC (RFC 8878 frame layer)
    "warc_zstd_stats",
    # r10: full RFC 8878 block layer over real libzstd frames
    "warc_zstd_deep_stats",
    "zip_members_stats",
    "tar_archive_stats",
    "tfrecord_stats",
    # r11: real BMP/PNG pixel decode + 63-bit dHash (image near-dup
    # dedup's map-only hash stage), the RIFF/PCM decode +
    # frame-energy fingerprint (its audio sibling), and the TIFF
    # IFD-chain walk + per-frame dHash (its video sibling)
    "dedup_image_phash",
    "dedup_audio_fingerprint",
    "dedup_video_phash",
    # late-r11 streaming ingest twins + modality incrementals: the
    # same decode kernels, visible in-plan because the stream-shared
    # functions cannot barrier (localCheckpoint is not
    # streaming-legal) or take the lazy-barrier path
    "dedup_image_stream_ingest",
    "dedup_audio_stream_ingest",
    "dedup_audio_incremental",
    "dedup_video_incremental",
}


def test_no_python_eval_anywhere_in_registry(spark, sf_dir):
    """The UDF ban (SURVEY.md §2.10): every declared query is pure
    Catalyst — row-at-a-time Python eval appears in no plan, and
    whole-partition Arrow kernels only in the decode allowlist."""
    from robin_sparkles_spark import registry

    for name, spec in registry.all_queries().items():
        a = audit_plan(spec.fn(spark, sf_dir))
        assert not a.has_python_eval, f"{name} has Python eval:\n{a.formatted}"
        if name not in MAP_IN_PANDAS_ALLOWLIST:
            assert a.map_in_pandas == 0, f"{name} has MapInPandas:\n{a.formatted}"


def _equi_joins(a):
    return a.sortmerge_joins + a.broadcast_joins + a.shuffled_hash_joins


def test_minhash_band_join_is_equi_join(spark, sf_dir):
    """The LSH candidate join must be a hash/sort-merge EQUI join on
    the band key — not a nested-loop pair scan."""
    a = audit_plan(dedup.dedup_minhash_lsh(spark, sf_dir))
    assert _equi_joins(a) >= 1, a.formatted


def test_ann_lsh_join_is_equi_join(spark, sf_dir):
    a = audit_plan(similarity.ann_lsh_topk(spark, sf_dir))
    assert _equi_joins(a) >= 1, a.formatted


def test_simhash_chunk_join_is_equi_join(spark, sf_dir):
    """The pigeonhole candidate join must be a hash/sort-merge EQUI
    join on (chunk_idx, chunk_val) — no nested-loop pair scan in the
    declared plan (VERDICT r01 'What's wrong' #1)."""
    a = audit_plan(dedup.dedup_simhash(spark, sf_dir))
    assert a.bnl_joins == 0, a.formatted
    assert _equi_joins(a) >= 1, a.formatted


def test_ngram_inverted_index_is_equi_join(spark, sf_dir):
    a = audit_plan(dedup.dedup_ngram_jaccard(spark, sf_dir))
    assert a.bnl_joins == 0, a.formatted
    assert _equi_joins(a) >= 1, a.formatted


def test_ngram_prefix_plan_is_equi_join_no_broadcast(spark, sf_dir):
    """The r12 prefix-filtered plan (dispatched above
    NGRAM_PREFIX_MIN_DOCS — the fixture never reaches it via the
    public entry, so audit it directly): candidate join and both
    verify joins must be SHUFFLE_HASH equi-joins, zero broadcasts,
    no nested loop."""
    a = audit_plan(dedup._ngram_jaccard_prefix(spark, sf_dir))
    assert a.bnl_joins == 0, a.formatted
    assert _equi_joins(a) >= 1, a.formatted
    assert a.broadcast_joins == 0, a.formatted


def test_embedding_similar_bucket_join_is_equi_join(spark, sf_dir):
    a = audit_plan(dedup.embedding_similar_pairs(spark, sf_dir))
    assert a.bnl_joins == 0, a.formatted
    assert _equi_joins(a) >= 1, a.formatted


# The corpus-pair family: every join in these plans is corpus × corpus
# (band/index self-joins, verify joins against per-doc signature
# tables, group-resolution joins), so a BroadcastHashJoin anywhere is
# a driver-OOM at scale. Catalyst's size estimates are BLIND to
# explode factors (r10 audit: the simhash blocked side was estimated
# at its pre-explode ~12 B/doc and broadcast — 4.4× slower at 50k
# docs, OOM-dead at 200k), so these plans pin SHUFFLE_HASH and this
# check makes the pin a CI property, not a convention. Values are the
# number of SANCTIONED bounded-side broadcasts in each plan.
_CORPUS_PAIR_BROADCAST_BUDGET = {
    "dedup_ngram_jaccard": 0,
    "dedup_minhash_lsh": 0,
    "dedup_simhash": 0,
    "embedding_similar_pairs": 0,
    "embedding_dedup": 0,
    "semdedup_dropped": 0,
    "embedding_similar_pairs_ivf": 0,
    "dedup_incremental": 0,
    "curation_pipeline": 0,
    "dedup_canonical_keepers": 0,
    "dedup_groups": 0,
    "decontaminate_train": 1,  # the bounded eval-slice shingle set
    "source_overlap_matrix": 2,  # the #sources-row size tables
    "image_text_pair_curation": 0,  # labels/sizes joins pinned; only
    # the sanctioned 1-row n_base scalar rides a broadcast (BNL, not
    # BHJ, so it doesn't count here)
    "dedup_containment": 0,  # r13: shared-count + both size joins pinned
}


def test_no_corpus_broadcast_in_pair_family(spark, sf_dir):
    from robin_sparkles_spark import registry

    specs = registry.all_queries()
    # the retired banding diagnostic keeps its broadcast budget even
    # though it is no longer a declared query (r11 retirement)
    fns = {name: spec.fn for name, spec in specs.items()}
    fns.setdefault("embedding_similar_pairs", dedup.embedding_similar_pairs)
    for name, budget in _CORPUS_PAIR_BROADCAST_BUDGET.items():
        a = audit_plan(fns[name](spark, sf_dir))
        assert a.broadcast_joins <= budget, (
            f"{name}: {a.broadcast_joins} BroadcastHashJoins (budget "
            f"{budget}) — a corpus-sized side is being broadcast:\n"
            f"{a.formatted}"
        )


# Exact small-Q KNN is a broadcast of the bounded query set over the
# corpus — the one declared plan shape where a broadcast nested loop
# is intended (Q is a constant, so the scan is linear in N).
# ann_recall_at_k's ground-truth side now reads the staged exact-top-k
# fixture (similarity.build_exact_topk), so it no longer inherits the
# BNL (VERDICT r03 ask #10) — the staging job runs the sanctioned
# baseline once, outside the declared plan.
# q22's BNL is its scalar threshold: a 1-row aggregate broadcast-cross-
# joined into the probe side (Spark's scalar-subquery shape) — O(N)
# with a single-row build, not a pair scan.
_BNL_ALLOWED = {
    "ann_bruteforce_topk",
    # PQ/ADC: same sanctioned bounded-Q scan (Q = 100 const) — the
    # per-pair cost is M table lookups, that being ADC's point; the
    # rerank/recall stages inherit the shortlist's ADC subtree
    "pq_adc_topk",
    "pq_rerank_topk",
    "pq_recall_at_k",
    "opq_recall_at_k",  # same sanctioned bounded-Q ADC scan, rotated
    "q22_idle_balance_by_segment",
    "q11_part_value_share",  # same scalar shape: 1-row nation total
    "supplier_revenue_share",  # same scalar shape: 1-row grand total (r6)
    "source_mixture",  # same scalar shape: 1-row corpus totals
    "docs_token_budget_sample",  # inherits source_mixture's 1-row scalar
    "docs_rarity_topk",  # same scalar shape: 1-row doc count N
    "docs_search_bm25",  # same scalar shape: 1-row (N, avgdl)
    "orders_bloom_prune",  # same scalar shape: 1-row count × count summary
    "orders_price_histogram",  # same scalar shape: 1-row total for shares
    "triangle_count_copurchase",  # scalar shape: 1-row stat × 1-row stat summary
    "custkey_overlap_kmv",  # scalar shape: 1-row sketch stats × 1-row exacts
    "orders_custkey_hll",  # scalar shape: 1-row registers × 1-row exact
    "ngram_lm_score",  # scalar shape: 1-row vocab size V into the smoother
    # r15 build (inherited, fixed in the optimization round): composes
    # ngram_lm_score, so it inherits that query's sanctioned 1-row
    # scalar joins — the interrupted build round added the query
    # without extending this allowlist
    "docs_ccnet_perplexity_buckets",
    "ngram_backoff_score",  # scalar shape: 1-row token total N
    "image_text_pair_curation",  # scalar shape: 1-row n_base into pairing
    "source_waterfill_allocation",  # two 1-row scalars (k/total, j*/P_j*)
}


def test_no_nested_loop_joins_in_declared_plans(spark, sf_dir):
    """Registry-wide quadratic-plan ban (VERDICT r01): no declared
    query may compile to a BroadcastNestedLoopJoin, except the
    explicitly-bounded exact-KNN baseline."""
    from robin_sparkles_spark import registry

    for name, spec in registry.all_queries().items():
        if name in _BNL_ALLOWED:
            continue
        a = audit_plan(spec.fn(spark, sf_dir))
        assert a.bnl_joins == 0, f"{name} has a nested-loop join:\n{a.formatted}"


def test_no_unbounded_global_windows_in_declared_plans(spark, sf_dir):
    """Registry-wide single-partition-window ban (VERDICT r5 ask #4):
    no declared plan may contain a Window with an empty partition spec
    unless its input subtree is bounded by a limiting node
    (TakeOrderedAndProject / GlobalLimit / WindowGroupLimit — Spark's
    rank-limit rewrite). Prose claims about window shapes drifted twice
    (r4 quantile docstring; supplier_revenue_share survived 3 rounds);
    this turns the wart class into a CI failure — it caught
    bigram_stats' TransposeWindow regression the day it was written.

    One structural exemption: ``functions.prefix``'s shard-offset
    window (``sum(_shard_total)``) runs over the per-shard totals — a
    1/SPAN (or domain/width) row reduction whose boundedness is the
    documented contract of the two-level prefix-sum decomposition, not
    visible as a plan node."""
    from robin_sparkles_spark import registry

    for name, spec in registry.all_queries().items():
        a = audit_plan(spec.fn(spark, sf_dir))
        offenders = [
            o
            for o in a.unbounded_global_windows
            if "sum(_shard_total" not in o
        ]
        assert not offenders, (
            f"{name} funnels its input through an unpartitioned, "
            f"unlimited Window:\n" + "\n".join(offenders) + f"\n{a.formatted}"
        )


def test_salted_join_spreads_hot_keys(spark, sf_dir):
    """The declared salted join must actually salt: the dimension side
    explodes N_SALTS× (a Generate node) and the join condition carries
    the salt column alongside event_type — each of the 5 hot keys
    spread over 8 shuffle partitions. Result equality with the plain
    join is the driver gate's oracle; here we check the plan shape."""
    from robin_sparkles_spark.operators import skew_queries

    a = audit_plan(skew_queries.events_salted_type_join(spark, sf_dir))
    assert "Generate" in a.formatted, a.formatted  # explode(sequence)
    assert "__salt" in a.formatted, a.formatted
    # join keys carry the salt next to the natural key (formatted mode
    # prints them as "Left/Right keys [2]: [event_type#…, __salt#…]")
    key_lines = [
        l
        for l in a.formatted.splitlines()
        if "keys" in l and "__salt" in l and "event_type" in l
    ]
    assert len(key_lines) >= 2, a.formatted


# --- reuse-barrier size contracts (VERDICT r6 ask #6) -----------------------
# Every barrier declares a bound class in functions/barrier.py; the
# corpus class (proportional to input) is allowed ONLY at these
# documented index-build / iterative sites — each is the materialized
# artifact a production deployment would persist anyway, and each
# honors the SPARK_GRAFT_BARRIER_DIR parquet-staging knob.
_CORPUS_BARRIER_ALLOWLIST = {
    "shared unit-vector ANN index",
    "opq rotated unit-vector index",
    "embedding_dedup unit-vector index",
    "embedding_dedup projection band index",
    "semdedup assigned unit-vector index",
    "kmeans_fit cast vectors",
    "label-propagation initial labels",
    "label-propagation iteration labels",
    "dedup pair-graph edges",
    "simhash table",
    # late r11: 8 bytes/doc — the 63-bit wide form's hash table (same
    # contract as the 32-bit simhash table)
    "wide simhash table",
    # r15 (optimization round, guide §2.4): the df-capped shingle
    # indexes and the LSH band index — each feeds 2–4 join branches
    # that otherwise replay scan+tokenize from parquet (no common-
    # subtree elimination); each is the inverted-index artifact a
    # production pipeline persists anyway
    "ngram capped shingle index",
    "ngram doc-array index",
    "containment capped index",
    # r15: the K-gram position table of the repeated-span family
    # (ngram_maximal_spans / docs_scrub_repeated_spans) — one row per
    # token position, feeds the occurrence aggregate + the join-back
    "repeated-span gram positions",
    # r15: the (doc_id, word, tf) term-count table — feeds the df
    # aggregate and the scoring join (df ≡ COUNT(*) over it)
    "top-terms tf table",
    # r11: 8 bytes/item — the persisted perceptual-hash / acoustic-
    # fingerprint indexes of image/audio/video near-dup dedup (same
    # contract as the simhash table; video is 8 B per SAMPLED frame)
    "image dhash table",
    "audio fingerprint table",
    "video frame-hash table",
    # r11: the media-pair graphs feeding components in
    # image_text_pair_curation / audio_dedup_keepers /
    # video_dedup_keepers (two longs per near-dup pair — same
    # contract as the text dedup pair-graph edges)
    "image pair-graph edges",
    "audio pair-graph edges",
    "video pair-graph edges",
    "dedup_groups memoized labels+sizes result",
    "copurchase capped order-items",
    "chunk-dedup per-chunk fingerprints",
    "pack-assign per-doc token projection",
    "token-budget per-doc hash projection",
    "BPE-apply per-doc token explode",
}


def test_all_localcheckpoints_route_through_barrier_helper():
    """No bare localCheckpoint anywhere in the package: every reuse
    barrier must go through functions.barrier.barrier() so its size
    class is declared and the corpus-class staging knob applies."""
    import pathlib

    import robin_sparkles_spark

    pkg = pathlib.Path(robin_sparkles_spark.__file__).parent
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        if path.name == "barrier.py":
            continue
        for i, line in enumerate(path.read_text().splitlines(), 1):
            code = line.split("#", 1)[0]
            if ".localCheckpoint(" in code:
                offenders.append(f"{path.relative_to(pkg)}:{i}: {line.strip()}")
    assert not offenders, (
        "bare localCheckpoint outside functions/barrier.py — route "
        "through barrier() with a bound class:\n" + "\n".join(offenders)
    )


def test_no_unallowlisted_corpus_barrier_in_declared_plans(spark, sf_dir):
    """Building every declared plan, the corpus-scale (input-
    proportional) barriers taken are exactly the documented
    index-build / iterative sites. Bounded classes (domain / vocab /
    groups / sample) need no allowlist — their size contract already
    says executor storage holds at 100 TB. NOTE: memoized operators
    (kmeans_fit, dedup_groups, BPE fit) record their barriers only on
    first construction; this test inventories whatever the full
    registry build triggers in this session, which covers every site
    at least once when run standalone and is a subset check (never
    flaky) when caches are warm."""
    from robin_sparkles_spark import registry
    from robin_sparkles_spark.functions import barrier as B

    B.CALLS.clear()
    for name, spec in registry.all_queries().items():
        spec.fn(spark, sf_dir)
    bad_class = [c for c in B.CALLS if c[0] not in B.BOUNDS]
    assert not bad_class, bad_class
    stray_corpus = sorted(
        {
            note
            for bound, note in B.CALLS
            if bound == "corpus" and note not in _CORPUS_BARRIER_ALLOWLIST
        }
    )
    assert not stray_corpus, (
        "corpus-scale barrier outside the documented allowlist — either "
        "reclassify honestly or add it with a staging story: "
        f"{stray_corpus}"
    )


def test_corpus_barrier_stages_to_parquet_when_knob_set(
    spark, tmp_path, monkeypatch
):
    """The 100 TB path: with SPARK_GRAFT_BARRIER_DIR set, a corpus-
    class barrier round-trips through parquet under that directory
    (fault-tolerant, object-store-spillable) instead of executor-local
    blocks — same rows either way."""
    from robin_sparkles_spark.functions.barrier import barrier

    df = spark.range(100).selectExpr("id", "id * 2 AS v")
    plain = barrier(df, "corpus", "knob test plain")
    assert sorted(r.v for r in plain.collect()) == [2 * i for i in range(100)]

    stage = tmp_path / "barriers"
    monkeypatch.setenv("SPARK_GRAFT_BARRIER_DIR", str(stage))
    staged = barrier(df, "corpus", "knob test staged")
    assert sorted(r.v for r in staged.collect()) == [2 * i for i in range(100)]
    staged_dirs = list(stage.glob("knob_test_staged_*"))
    assert len(staged_dirs) == 1, staged_dirs
    assert list(staged_dirs[0].glob("*.parquet")), "no parquet files staged"
    # bounded classes never stage — executor storage is their contract
    bounded = barrier(df, "vocab", "knob test bounded")
    assert bounded.count() == 100
    assert not list(stage.glob("knob_test_bounded*"))


def test_staged_barrier_paths_are_app_unique_and_lazy_never_stages(
    spark, tmp_path, monkeypatch
):
    """ADVICE r7: (a) staged paths embed the application id, so a
    restarted driver pointed at the same non-empty dir cannot collide
    with a previous app's stages; (b) ``eager=False`` corpus barriers
    never stage — plan construction must not launch jobs — and fall
    back to the lazy localCheckpoint path with a warning."""
    from robin_sparkles_spark.functions.barrier import barrier

    stage = tmp_path / "barriers"
    monkeypatch.setenv("SPARK_GRAFT_BARRIER_DIR", str(stage))
    df = spark.range(10).selectExpr("id", "id * 3 AS v")

    staged = barrier(df, "corpus", "appid test")
    assert staged.count() == 10
    (d,) = stage.glob("appid_test_*")
    app = "".join(
        ch for ch in spark.sparkContext.applicationId if ch.isalnum()
    )[-12:]
    assert app in d.name, (d.name, app)

    # same note, same dir, different process counter → no collision
    again = barrier(df, "corpus", "appid test")
    assert again.count() == 10
    assert len(list(stage.glob("appid_test_*"))) == 2

    lazy = barrier(df, "corpus", "lazy stays local", eager=False)
    assert not list(stage.glob("lazy_stays_local*")), "lazy barrier staged"
    assert lazy.count() == 10


def test_barrier_skip_refuses_to_bypass_staging(spark, tmp_path, monkeypatch):
    """Skipping a corpus barrier while SPARK_GRAFT_BARRIER_DIR asks for
    it to be staged fails loudly, naming both variables; bounded
    classes never stage, so skipping them stays a plain no-op."""
    from robin_sparkles_spark.functions.barrier import barrier

    stage = tmp_path / "barriers"
    monkeypatch.setenv("SPARK_GRAFT_BARRIER_DIR", str(stage))
    monkeypatch.setenv("SPARK_GRAFT_BARRIER_SKIP", "skip probe")
    df = spark.range(10)

    with pytest.raises(ValueError) as err:
        barrier(df, "corpus", "skip probe corpus")
    assert "SPARK_GRAFT_BARRIER_SKIP" in str(err.value)
    assert "SPARK_GRAFT_BARRIER_DIR" in str(err.value)
    assert not stage.exists()

    assert barrier(df, "vocab", "skip probe vocab") is df


def test_signature_barrier_survives(spark, sf_dir):
    """Regression guard for the per-pair recompute bug: the simhash
    pair scan's join predicate must reference plain attributes, i.e.
    the expensive hash must sit below an Aggregate. If the barrier is
    ever optimized away, the shingle expression ('ascii(' fold) shows
    up inside the join node."""
    a = audit_plan(dedup.dedup_simhash(spark, sf_dir))
    join_lines = [
        l for l in a.formatted.splitlines() if "Join" in l and "ascii" in l
    ]
    assert not join_lines, join_lines


def test_r9_family_plan_shapes(spark, sf_dir):
    """Plan-shape contracts for the round-9 families:
    - the span audit and BM25 rank compile to TakeOrderedAndProject
      (per-partition heads + driver k-merge), never a global sort;
    - pq_encode is a shuffle-free map-only projection over the
      materialized index (the '100 TB code table is a projection'
      claim, machine-checked);
    - the n-gram scorers' count-table joins contain no nested loop
      beyond the sanctioned 1-row scalar."""
    from robin_sparkles_spark.operators import ngram_lm, pq, retrieval

    spans = audit_plan(ngram_lm.ngram_repeated_spans(spark, sf_dir))
    assert "TakeOrderedAndProject" in spans.formatted, spans.formatted

    bm25 = audit_plan(retrieval.docs_search_bm25(spark, sf_dir))
    assert "TakeOrderedAndProject" in bm25.formatted, bm25.formatted

    enc = audit_plan(pq.pq_encode(spark, sf_dir))
    assert enc.exchanges == 0, enc.formatted
    assert enc.bnl_joins == 0 and not enc.has_python_eval

    lm = audit_plan(ngram_lm.ngram_lm_score(spark, sf_dir))
    assert lm.bnl_joins <= 1, lm.formatted  # only the 1-row V scalar
    bo = audit_plan(ngram_lm.ngram_backoff_score(spark, sf_dir))
    assert bo.bnl_joins <= 1, bo.formatted  # only the 1-row N scalar


def test_containment_prefix_plan_is_equi_join_no_broadcast(spark, sf_dir):
    """The r13 asymmetric-prefix containment plan (dispatched above
    CONTAIN_PREFIX_MIN_DOCS — the fixture never reaches it via the
    public entry, so audit it directly): candidate join and both
    verify joins must be SHUFFLE_HASH equi-joins, zero broadcasts, no
    nested loop — the same posture as the ngram prefix plan."""
    from robin_sparkles_spark.operators import containment as Cm

    a = audit_plan(Cm._containment_prefix(spark, sf_dir))
    assert a.bnl_joins == 0, a.formatted
    assert _equi_joins(a) >= 1, a.formatted
    assert a.broadcast_joins == 0, a.formatted


def _value_keyed_windows(formatted: str, value_cols: tuple[str, ...]) -> list[str]:
    """Window nodes whose partition spec LEADS with one of the given
    value columns (partition columns print first in
    ``windowspecdefinition(...)``). doc_id-keyed windows are allowed —
    their partitions are bounded by per-document row counts."""
    hits = []
    for line in formatted.splitlines():
        line = line.strip()
        if "windowspecdefinition(" not in line:
            continue
        spec = line.split("windowspecdefinition(", 1)[1]
        first = spec.split(",", 1)[0].strip()
        if any(first.startswith(c + "#") for c in value_cols):
            hits.append(line)
    return hits


def test_no_value_keyed_df_windows(spark, sf_dir):
    """VERDICT r13 #1: the df/occurrence-count stage of the text-dedup
    family must NOT be a window partitioned on the shingle/line VALUE
    — a hot key (a boilerplate line in 10% of documents, a
    corpus-universal 3-gram) would co-locate 10^8+ rows in ONE task
    with no partial aggregation and no AQE split (AQE splits join
    partitions, not window partitions). The fix is groupBy(key).count()
    + join-back; this audit pins the shape on every plan that carries
    the df stage, both dispatch arms."""
    from robin_sparkles_spark.operators import containment as Cm
    from robin_sparkles_spark.operators import dedup, line_dedup

    plans = {
        "ngram_full": (dedup._ngram_jaccard_full_index(spark, sf_dir), ("h",)),
        "ngram_prefix": (dedup._ngram_jaccard_prefix(spark, sf_dir), ("h",)),
        "contain_full": (Cm._containment_full_index(spark, sf_dir), ("h",)),
        "contain_prefix": (Cm._containment_prefix(spark, sf_dir), ("h",)),
        "line_dedup": (line_dedup.docs_line_dedup(spark, sf_dir), ("line",)),
    }
    for name, (df, cols) in plans.items():
        a = audit_plan(df)
        bad = _value_keyed_windows(a.formatted, cols)
        assert not bad, f"{name}: value-keyed window(s): {bad}"


def test_domain_cap_uses_window_group_limit(spark, sf_dir):
    """The per-domain cap's scale claim, machine-checked: the
    row_number() <= K window must compile to WindowGroupLimit (Spark's
    partial per-mapper top-K), so a mega-domain can't flood one task —
    the hot-key-SAFE window shape, in contrast to the df-count windows
    r14 removed. Also: deterministic output (two runs identical) and
    the cap actually binds on the fixture."""
    from robin_sparkles_spark.operators import text_analysis as T

    df = T.docs_domain_capped_sample(spark, sf_dir)
    a = audit_plan(df)
    assert "WindowGroupLimit" in a.formatted, a.formatted
    assert not a.has_python_eval
    rows = {(r.doc_id, r.source, r.rank_in_domain) for r in df.collect()}
    rows2 = {
        (r.doc_id, r.source, r.rank_in_domain)
        for r in T.docs_domain_capped_sample(spark, sf_dir).collect()
    }
    assert rows == rows2
    per_src = {}
    for _, src, _rk in rows:
        per_src[src] = per_src.get(src, 0) + 1
    assert max(per_src.values()) <= T.DOMAIN_CAP
    assert max(per_src.values()) == T.DOMAIN_CAP  # the cap binds
