"""Physical-plan assertions: pushdown, column pruning, join strategy.

These pin the *optimizer-facing* properties of the engine: filters reach the
parquet scan, projections prune columns at the source, dictionary joins
broadcast, and the scoring stage stays inside whole-stage codegen.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().toString()


def test_filter_pushdown_reaches_scan(spark, tmp_path):
    p = str(tmp_path / "li")
    spark.range(1000).select(
        F.col("id").alias("k"),
        (F.col("id") % 7).alias("flag"),
        F.lit("payload").alias("wide1"),
        F.lit("payload").alias("wide2"),
    ).write.mode("overwrite").parquet(p)
    df = spark.read.parquet(p).filter(F.col("flag") == 3).select("k")
    plan = _plan(df)
    assert "PushedFilters: [" in plan and "flag" in plan.split("PushedFilters")[1][:80]
    # column pruning: the scan reads only k and flag, not the wide payloads
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "wide1" not in read_schema and "wide2" not in read_schema


def test_candidate_join_is_broadcast(spark):
    from xlink_spark.operators import scoring as SC

    mentions = spark.createDataFrame(
        [("d1", 0, 5, "china", "ma")],
        "doc_id string, start int, end int, surface string, parse_from string",
    )
    ma = spark.createDataFrame([("china", "e1", 3)], "mention string, entity_id string, cnt long")
    egm = spark.createDataFrame([("china", "e1", 1.0)], "mention string, entity_id string, p double")
    emb = spark.createDataFrame([("e1", [1.0, 0.0])], "key string, vec array<float>")
    cands = SC.candidate_table(mentions, ma, egm, emb)
    plan = _plan(cands)
    assert "BroadcastHashJoin" in plan
    # dictionary explosion must not SMJ
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    # one Arrow pass explodes and scores the candidates, no per-row Python
    assert plan.count("MapInArrow") == 1
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan


def test_scoring_has_no_python_in_hot_path(spark):
    """The believe/gate/top-1 stage is pure JVM: no Python eval nodes."""
    from xlink_spark.operators import scoring as SC

    cands = spark.createDataFrame(
        [("d", 0, 2, "mm", "ma", "mm", "e1", 0.9, 0.8)],
        "doc_id string, start int, end int, surface string, parse_from string,"
        "mention string, entity_id string, p double, ctx_word_sim double",
    ).withColumn("ctx_ent_sim", F.lit(1.0))
    lp = spark.createDataFrame([("mm", 0.5)], "mention string, link_prob double")
    scored = SC.score_has_prob(cands, lp)
    plan = _plan(scored)
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan
    # top-1 rank is pushed down map-side (partial WindowGroupLimit before
    # the exchange) and the link_prob gate rides the broadcast join
    assert "WindowGroupLimit" in plan
    assert "BroadcastHashJoin" in plan


def test_flagship_reads_only_needed_columns(spark):
    """documents has 5 columns; the flagship projection must prune to the 3
    it uses (doc_id, source, text) at the parquet scan."""
    from xlink_spark.flagship import linking_pipeline

    links = linking_pipeline(spark, "/root/testdata/sf0.001")
    plan = _plan(links)
    scans = [seg.splitlines()[0] for seg in plan.split("ReadSchema:")[1:]]
    doc_scans = [s for s in scans if "text" in s]
    assert doc_scans, "expected a documents scan"
    for s in doc_scans:
        assert "n_chars" not in s and "lang" not in s


def test_join_path_detection_plan_shape(spark):
    """detect_mentions_join: the dictionary join is an equi-join (hash or
    sort-merge; NEVER a nested-loop/cartesian product) and the n-gram scan
    is a single Arrow-batched crossing."""
    from xlink_spark.operators import detect as DT

    docs = spark.createDataFrame(
        [("d1", "a b c"), ("d2", "b c d")], "doc_id string, text string"
    )
    dict_df = spark.createDataFrame(
        [("a b", "ma"), ("c", "ma")], "mention string, parse_from string"
    )
    plan = _plan(DT.detect_mentions_join(docs, dict_df, max_words=2))
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert plan.count("MapInPandas") == 1


def test_multiprobe_bucketed_topk_plan_shape(spark):
    """Multi-probe ANN stays an equi-join on bucket — the probe explode must
    not degrade the join to a nested loop, and no Python touches the path."""
    from xlink_spark.operators import similarity as SIM

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 1.0])],
        "vec_id int, embedding array<double>",
    )
    plan = _plan(SIM.bucketed_topk(emb, dim=2, k=2, bits=3, probes=3))
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan


def test_linking_priors_plan_is_jvm_with_group_limit(spark):
    """The oracle-checked flagship core: pure JVM after the token explode,
    map-side WindowGroupLimit for the top-1, broadcast gates."""
    from xlink_spark.driver_queries import q_linking_priors

    plan = _plan(q_linking_priors(spark, "/root/testdata/sf0.001"))
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan
    assert "WindowGroupLimit" in plan
    assert "BroadcastHashJoin" in plan


def test_ivf_topk_plan_shape(spark):
    """IVF ANN: probe assignment is a pure scan expression (centroids ride as
    literals — NO join of any kind for assignment) and the neighbor search is
    an equi-join on cluster; no Python anywhere."""
    from xlink_spark.operators import similarity as SIM

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(10)], "vec_id int, embedding array<double>"
    )
    plan = _plan(SIM.ivf_topk(emb, k=2, n_clusters=2, nprobe=1))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan


def test_ivf_driver_query_plan_shape(spark):
    """The oracle-checked IVF entry point (frozen data-derived centroids)
    keeps the same shape: no cross join, no Python eval nodes."""
    from xlink_spark.driver_queries import q_ann_topk_ivf

    plan = _plan(q_ann_topk_ivf(spark, "/root/testdata/sf0.001"))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan


def test_ivf_c256_driver_query_uses_join_quantizer(spark):
    """The large-quantizer IVF entry: assignment runs as the INTENDED
    broadcast nested-loop fanout over the tiny centroid table (not a
    codegen-busting literal projection, not a cartesian shuffle product),
    and nothing else in the plan is Python or cartesian."""
    from xlink_spark.driver_queries import q_ann_topk_ivf_c256

    plan = _plan(q_ann_topk_ivf_c256(spark, "/root/testdata/sf0.001"))
    assert "BroadcastNestedLoopJoin" in plan  # the centroid fanout
    assert "CartesianProduct" not in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan


def test_detected_mentions_query_plan_shape(spark):
    """The oracled join-path detection query: exactly ONE Arrow crossing
    (the n-gram span scan — dictionary derivation is pure SQL), dictionary
    matched by equi-join, never a nested loop / cartesian product, and no
    row-at-a-time Python anywhere."""
    from xlink_spark.driver_queries import q_detected_mentions

    plan = _plan(q_detected_mentions(spark, "/root/testdata/sf0.001"))
    assert plan.count("MapInPandas") == 1
    assert "BatchEvalPython" not in plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_curation_plan_query_is_pure_jvm(spark):
    """The composed curation chain (exact dedup → quality → repetition →
    LSH → decontamination → redaction): every stage is declarative — no
    Python eval nodes of any kind, no cartesian products; the only pair
    generation is the banded equi-join."""
    from xlink_spark.driver_queries import q_curation_plan

    plan = _plan(q_curation_plan(spark, "/root/testdata/sf0.001"))
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_curation_gate_cache_is_narrow(spark):
    """The persisted gate branch caches (doc_id, quality) ONLY — a cache
    whose footprint scales with corpus TEXT width would be ~a corpus copy
    in MEMORY_AND_DISK at 100 TB. Text must flow once through the kept
    chain; only after_quality (whose text feeds two real branches) and the
    id-narrow lists may persist, and NO persisted handle except
    after_quality carries the text column."""
    from xlink_spark.plans.curation import curate_corpus

    rows = [(f"d{i}", f"document number {i} with plain ordinary filler words "
            + ("pad " * (i % 5))) for i in range(20)]
    rows.append(("dup", rows[0][1]))
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    held: list = []
    kept, audit, drops = curate_corpus(docs, None, persisted_out=held)
    text_carrying = [h for h in held if "text" in h.columns]
    # exactly one full-width persist: the post-gate survivor table
    assert len(text_carrying) == 1
    gate = [h for h in held if "quality" in h.columns and "text" not in h.columns]
    assert len(gate) == 1 and set(gate[0].columns) == {
        "doc_id", "content_hash", "quality",
    }
    # counts unchanged by the narrowing
    counts = {r["stage"]: r["n_dropped"] for r in audit.collect()}
    assert counts["exact_dup"] == 1
    assert kept.count() + sum(counts.values()) == 21
    for h in held:
        h.unpersist()


def test_curation_held_release_frees_all_storage(spark):
    """The persisted_out contract must release EVERYTHING — including the
    lineage-truncated (localCheckpoint) frames, whose blocks live as RDD
    storage that ``DataFrame.unpersist`` alone would never touch. A leak
    here accumulates a drop-list + survivor copy per curation call until
    the storage pool fills (the observed evictBlocksToFreeSpace livelock).
    Pin: after unpersisting every handle, the context reports zero cached
    RDDs and the SQL cache is empty."""
    from xlink_spark.plans.curation import curate_corpus

    sc = spark.sparkContext

    def rdd_ids():
        return {i.id() for i in sc._jsc.sc().getRDDStorageInfo()}

    spark.catalog.clearCache()
    baseline = rdd_ids()  # other suites may leave internal (e.g. MLlib) blocks
    rows = [(f"d{i}", f"document number {i} with plain ordinary filler words "
            + ("pad " * (i % 5))) for i in range(20)]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    held: list = []
    kept, audit, drops = curate_corpus(docs, None, persisted_out=held)
    audit.collect()
    kept.count()
    # the checkpointed frames materialized real blocks
    assert rdd_ids() - baseline
    for h in held:
        h.unpersist()
    assert rdd_ids() - baseline == set()


def test_linking_pipeline_ascii_python_is_one_arrow_scan(spark):
    """The fully-oracled ASCII flagship (detect → resolve → context →
    tokenize → mean-pool cosine → fuse → gate → top-1): the Python in the
    plan is three Arrow passes — the n-gram span scan of join-path
    detection, the context-word pool (one row per mention) and the
    candidate explosion with its word cosine (one row per mention in,
    candidate rows out). Fusion and gating are JVM-side, no Python runs
    per row, and the dictionary joins broadcast (the candidate explosion
    must never sort-merge on the Zipf-skewed surface key)."""
    from xlink_spark.driver_queries import q_linking_pipeline_ascii

    plan = _plan(q_linking_pipeline_ascii(spark, "/root/testdata/sf0.001"))
    assert plan.count("MapInPandas") == 1  # the detection span scan
    assert plan.count("MapInArrow") == 2  # context pool, candidate kernel
    for marker in ("BatchEvalPython", "ArrowEvalPython"):
        assert marker not in plan
    assert "CartesianProduct" not in plan and "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_linking_seeded_ascii_python_is_one_arrow_scan(spark):
    """The seeded flagship variant (adds the unambiguous-seed doc pool and
    ctx_ent_sim to the ascii DAG): mentions fan out to the context AND seed
    branches, so the query persists them eagerly — BOTH branches must read
    the cache (two InMemoryTableScans; the Arrow detection scan executed
    once, at persist time — plan TEXT shows it once per printed
    InMemoryRelation, so count cache scans, not MapInPandas strings). No
    other Python, no cartesian product, broadcast dictionary joins."""
    from xlink_spark.driver_queries import _SEEDED_HELD, q_linking_seeded_ascii

    plan = _plan(q_linking_seeded_ascii(spark, "/root/testdata/sf0.001"))
    assert plan.count("InMemoryTableScan") == 2
    for marker in ("BatchEvalPython", "ArrowEvalPython"):
        assert marker not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    for h in list(_SEEDED_HELD):
        h.unpersist()
    _SEEDED_HELD.clear()


def test_round5_session2_queries_are_pure_jvm(spark):
    """The fuzzy / exact-setsim / stable-id driver queries stay inside
    whole-stage codegen end to end: no Python eval nodes, no cartesian."""
    from xlink_spark.driver_queries import (
        q_cluster_stable_ids,
        q_fuzzy_candidate_priors,
        q_fuzzy_detected_mentions,
        q_fuzzy_surface_match,
        q_jaccard_pairs_exact,
    )

    sf = "/root/testdata/sf0.001"
    for q in (
        q_fuzzy_surface_match,
        q_fuzzy_candidate_priors,
        q_fuzzy_detected_mentions,
        q_jaccard_pairs_exact,
        q_cluster_stable_ids,
    ):
        plan = _plan(q(spark, sf))
        markers = [
            "BatchEvalPython",
            "ArrowEvalPython",
            "CartesianProduct",
            "BroadcastNestedLoopJoin",
        ]
        if q is not q_fuzzy_detected_mentions:
            # the detection query's ONE sanctioned Python boundary is the
            # Arrow-batched ngram_spans scan (same as detected_mentions)
            markers.append("MapInPandas")
        for marker in markers:
            assert marker not in plan, (q.__name__, marker)


def test_bm25_driver_query_plan_no_explode_no_python(spark):
    """BM25 search: term frequencies are HOF projections — the plan has NO
    Generate (explode) node, no Python eval, and the only top-level sort is
    the TakeOrderedAndProject heap."""
    from xlink_spark.driver_queries import q_bm25_topk

    plan = _plan(q_bm25_topk(spark, "/root/testdata/sf0.001"))
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "Generate"):
        assert marker not in plan
    assert "TakeOrderedAndProject" in plan


def test_entity_pagerank_plan_is_pure_jvm(spark):
    """Integer PageRank: three unrolled join+agg rounds, no Python eval, no
    cartesian blowup."""
    from xlink_spark.driver_queries import q_entity_pagerank

    plan = _plan(q_entity_pagerank(spark, "/root/testdata/sf0.001"))
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan
    assert "CartesianProduct" not in plan


def test_coherence_rerank_query_plan_shape(spark):
    """The collective-rerank driver query: the candidate table is persisted
    once and the rerank's fan-out consumers (pool, paired) read the cache —
    the detection scan's MapInPandas appears in the printed plan only under
    InMemoryRelation provenance, so count cache scans, not Python markers.
    The relatedness build's four link-table consumers read the operator's
    eager localCheckpoint instead (entity_relatedness materialize=True —
    round-6 change #11), which prints as Scan ExistingRDD. The anchor
    dictionary rides a broadcast; the only joins are equi-joins."""
    from xlink_spark.driver_queries import q_coherence_rerank

    plan = _plan(q_coherence_rerank(spark, "/root/testdata/sf0.001"))
    assert plan.count("InMemoryTableScan") >= 2  # pool/paired fan-out
    assert "ExistingRDD" in plan  # the materialized distinct link table
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_entity_relatedness_query_plan_shape(spark):
    """Relatedness over resolved in-links: pair generation is a doc_id
    equi-join (never cartesian), the one-row doc-universe aggregate rides a
    broadcast, and detection's span scan is the only Python boundary."""
    from xlink_spark.driver_queries import q_entity_relatedness

    plan = _plan(q_entity_relatedness(spark, "/root/testdata/sf0.001"))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "BroadcastExchange" in plan or "BroadcastQueryStage" in plan


def test_fs_pair_scores_query_plan_shape(spark):
    """The FS chain is pure JVM: no Python eval nodes anywhere, the weight
    table rides a broadcast, and no join degenerates to a cartesian."""
    from xlink_spark.driver_queries import q_fs_pair_scores

    plan = _plan(q_fs_pair_scores(spark, "/root/testdata/sf0.001"))
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan or "BroadcastQueryStage" in plan


def test_jw_pair_scores_query_plan_shape(spark):
    """Jaro-Winkler is the ONE sanctioned Arrow boundary in this query —
    exactly one vectorized Python eval over the blocked pairs, everything
    else JVM."""
    from xlink_spark.driver_queries import q_jw_pair_scores

    plan = _plan(q_jw_pair_scores(spark, "/root/testdata/sf0.001"))
    assert plan.count("ArrowEvalPython") == 1
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert "CartesianProduct" not in plan


def test_fs_threshold_sweep_query_plan_shape(spark):
    from xlink_spark.driver_queries import q_fs_threshold_sweep

    plan = _plan(q_fs_threshold_sweep(spark, "/root/testdata/sf0.001"))
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan
    assert "CartesianProduct" not in plan
