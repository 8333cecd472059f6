"""Scoring semantics: context windows, empty-context conventions, fusion,
gates, top-1 determinism, W3 merge."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from xlink_spark.config import PredictorConfig
from xlink_spark.functions.vectors import cosine, pool_unit
from xlink_spark.operators import scoring as SC


def test_cosine_expr(spark):
    df = spark.createDataFrame(
        [([1.0, 0.0], [1.0, 0.0]), ([1.0, 0.0], [0.0, 1.0]), ([0.0, 0.0], [1.0, 0.0])],
        "a array<double>, b array<double>",
    )
    got = [r["c"] for r in df.select(cosine("a", "b").alias("c")).collect()]
    assert got == [1.0, 0.0, 0.0]


def test_pool_unit_kernel():
    """The context-pool kernel: unit-normalized sum of in-vocabulary word
    vectors; no in-vocabulary word, an empty or null context, or vectors
    summing to zero give null."""
    import numpy as np
    import pyarrow as pa

    keys = pa.array(["a", "b", "neg_a"])
    mat = np.array([[1.0, 2.0], [3.0, 4.0], [-1.0, -2.0]])
    words = pa.array([["a", "b"], [], None, ["zz"], ["a", "zz", "neg_a"], ["zz", "b"]])
    got = pool_unit(words, keys, mat).to_pylist()
    n = math.sqrt(13)  # mean [2, 3] (= sum [4, 6] / 2), unit-normalized
    assert got[0] == pytest.approx([2 / n, 3 / n])
    assert got[1:5] == [None, None, None, None]
    assert got[5] == pytest.approx([0.6, 0.8])  # OOV words are skipped


def test_candidate_kernel_edge_cases(spark):
    """candidate_table's Arrow kernel against the reference ``cosine``:
    duplicate (mention, entity) dictionary rows keep their multiplicity, a
    zero-norm entity scores 0, a candidate without an embedding is
    dropped, an out-of-vocabulary-only context gives a null ctx_vec and
    word_sim 0, and a mention without candidates emits no rows."""
    mentions = spark.createDataFrame(
        [("d1", 0, 2, "aa", "ma"), ("d2", 0, 2, "cc", "ma"), ("d3", 0, 2, "bb", "ma")],
        "doc_id string, start int, end int, surface string, parse_from string",
    )
    docs = spark.createDataFrame(
        [("d1", "aa foo bar"), ("d2", "cc zzz"), ("d3", "bb foo")],
        "doc_id string, text string",
    )
    wemb = spark.createDataFrame(
        [("foo", [1.0, 0.0, 0.0]), ("bar", [0.0, 2.0, 1.0])], "key string, vec array<float>"
    )
    emb = spark.createDataFrame(
        [("e1", [1.0, 1.0, 0.25]), ("e2", [0.0, 0.0, 0.0])], "key string, vec array<float>"
    )
    ma = spark.createDataFrame(
        [("aa", "e1", 1), ("aa", "e1", 1), ("aa", "e2", 1), ("aa", "e3", 1), ("cc", "e1", 1)],
        "mention string, entity_id string, cnt long",
    )
    egm = spark.createDataFrame(
        [("aa", "e1", 0.5), ("aa", "e2", 0.3), ("aa", "e3", 0.2), ("cc", "e1", 1.0)],
        "mention string, entity_id string, p double",
    )
    ctx = SC.context_word_vector(SC.attach_context(mentions, docs), wemb)
    assert {r["surface"]: r["ctx_vec"] is None for r in ctx.collect()} == {
        "aa": False, "cc": True, "bb": False
    }
    got = sorted(
        (r["surface"], r["entity_id"], r["p"], r["ctx_word_sim"])
        for r in SC.candidate_table(ctx, ma, egm, emb).collect()
    )
    ref = spark.createDataFrame(
        [([1.0, 1.0, 0.25], [1.0, 2.0, 1.0])], "a array<double>, b array<double>"
    ).select(cosine("a", "b").alias("c")).first()["c"]
    assert [g[:3] for g in got] == [
        ("aa", "e1", 0.5), ("aa", "e1", 0.5), ("aa", "e2", 0.3), ("cc", "e1", 1.0)
    ]
    assert got[0][3] == got[1][3] == pytest.approx(ref, rel=1e-12, abs=0)
    assert got[2][3] == 0.0 and got[3][3] == 0.0


def test_attach_context_window_bounds(spark):
    cfg = PredictorConfig(context_window=5)
    mentions = spark.createDataFrame(
        [("d", 2, 5, "bcd", "ma")], "doc_id string, start int, end int, surface string, parse_from string"
    )
    docs = spark.createDataFrame([("d", "XXbcdYYZZWW")], "doc_id string, text string")
    r = SC.attach_context(mentions, docs, cfg).collect()[0]
    assert r["ctx_prev"] == "XX"  # clipped at doc start
    assert r["ctx_after"] == "YYZZW"  # 5 chars


def test_empty_context_conventions(spark):
    """ctx empty ⇒ word_sim 0 (xlink.py:319); empty ent pool ⇒ empty_sim,
    which is 1 for BOTH reference passes (xlink.py:329-334 — the shared
    cal_candidate_context_entities_sim; 0 is the GM predictor convention,
    Predictor.py:210, exposed via the parameter)."""
    cands = spark.createDataFrame(
        [("d", 0, 2, "aa", "ma", "aa", "e1", 1.0, [1.0, 0.0], None)],
        "doc_id string, start int, end int, surface string, parse_from string,"
        "mention string, entity_id string, p double, entity_vec array<double>,"
        "ctx_vec array<double>",
    )
    seeds = spark.createDataFrame(
        [], "doc_id string, start int, end int, seed_vec array<double>"
    )
    doc_agg = spark.createDataFrame(
        [], "doc_id string, doc_sum array<double>, doc_seed_cnt long"
    )
    has_prob = SC.context_entity_vector(cands, seeds, doc_agg, empty_sim=1.0).collect()[0]
    assert has_prob["ctx_ent_sim"] == 1.0
    no_prob = SC.context_entity_vector(cands, seeds, doc_agg, empty_sim=0.0).collect()[0]
    assert no_prob["ctx_ent_sim"] == 0.0
    lp = spark.createDataFrame([("aa", 0.5)], "mention string, link_prob double")
    scored = SC.score_has_prob(
        SC.context_entity_vector(cands, seeds, doc_agg, empty_sim=1.0), lp
    ).collect()
    # word_sim = 0 (null ctx) ⇒ cand_believe = 0 ⇒ believe = 0.25 > 0.2 ⇒ kept
    assert len(scored) == 1 and abs(scored[0]["believe"] - 0.25) < 1e-12


def test_pool_exclusion_modes(spark):
    """has-prob pool includes the mention's own seed (xlink.py:157-161);
    no-prob pool drops entity-overlapping seeds for SEEDED mentions only
    (xlink.py:241-254)."""
    # doc has two seeds: m1→e1 (vec [1,0]), m2→e2 (vec [0,1]).
    cands = spark.createDataFrame(
        [
            ("d", 0, 2, "m1", "ma", "m1", "e1", 1.0, [1.0, 0.0]),
            ("d", 5, 7, "m2", "ma", "m2", "e2", 1.0, [0.0, 1.0]),
        ],
        "doc_id string, start int, end int, surface string, parse_from string,"
        "mention string, entity_id string, p double, entity_vec array<double>",
    )
    seeds, doc_agg = SC.seed_pool(cands)
    # has-prob semantics: pool = ALL seeds ⇒ [1,1] for both mentions
    got = {
        r["entity_id"]: r["ctx_ent_sim"]
        for r in SC.context_entity_vector(
            cands, seeds, doc_agg, empty_sim=1.0, exclusion="none"
        ).collect()
    }
    assert got["e1"] == pytest.approx(1 / math.sqrt(2))
    assert got["e2"] == pytest.approx(1 / math.sqrt(2))
    # no-prob semantics: m1 is seeded and e1 is among its candidates ⇒
    # pool = [0,1]; symmetric for m2 ⇒ both cosines 0
    got = {
        r["entity_id"]: r["ctx_ent_sim"]
        for r in SC.context_entity_vector(
            cands, seeds, doc_agg, empty_sim=1.0, exclusion="candidate_overlap"
        ).collect()
    }
    assert got["e1"] == pytest.approx(0.0)
    assert got["e2"] == pytest.approx(0.0)


def test_candidate_overlap_spares_unseeded_mentions(spark):
    """An UNSEEDED mention keeps the full pool even when a doc seed shares
    an entity with one of its candidates (xlink.py:235-240: the exclusion
    branch runs only for mentions with a result_cand)."""
    # m1 (amb: e1, e2) is unseeded; m2 (unambiguous: e1) seeds the doc.
    cands = spark.createDataFrame(
        [
            ("d", 0, 2, "m1", "ma", "m1", "e1", 0.5, [1.0, 0.0]),
            ("d", 0, 2, "m1", "ma", "m1", "e2", 0.5, [0.0, 1.0]),
            ("d", 5, 7, "m2", "ma", "m2", "e1", 1.0, [1.0, 0.0]),
        ],
        "doc_id string, start int, end int, surface string, parse_from string,"
        "mention string, entity_id string, p double, entity_vec array<double>",
    )
    seeds, doc_agg = SC.seed_pool(cands)
    out = SC.context_entity_vector(
        cands, seeds, doc_agg, empty_sim=1.0, exclusion="candidate_overlap"
    )
    got = {(r["start"], r["entity_id"]): r["ctx_ent_sim"] for r in out.collect()}
    # m1 unseeded ⇒ pool = [1,0] (the e1 seed stays despite the overlap)
    assert got[(0, "e1")] == pytest.approx(1.0)
    assert got[(0, "e2")] == pytest.approx(0.0)
    # m2 seeded, its candidate e1 matches the only seed ⇒ empty pool ⇒ 1
    assert got[(5, "e1")] == pytest.approx(1.0)


def test_believe_fusion_and_gates(spark):
    """believe_v2 = P(e|m)^0.02 · word_sim · ent_sim; gates F7."""
    cfg = PredictorConfig()
    cands = spark.createDataFrame(
        [
            # winner: high sims
            ("d", 0, 2, "mm", "ma", "mm", "e1", 0.9, [1.0, 0.0], [1.0, 0.0]),
            ("d", 0, 2, "mm", "ma", "mm", "e2", 0.1, [0.0, 1.0], [1.0, 0.0]),
        ],
        "doc_id string, start int, end int, surface string, parse_from string,"
        "mention string, entity_id string, p double, entity_vec array<double>,"
        "ctx_vec array<double>",
    ).withColumn("ctx_ent_sim", F.lit(1.0))
    lp = spark.createDataFrame([("mm", 0.5)], "mention string, link_prob double")
    got = SC.score_has_prob(cands, lp, cfg).collect()
    assert len(got) == 1
    r = got[0]
    assert r["entity_id"] == "e1"
    want = (0.9**0.02 * 1.0 * 1.0 + 0.5) / 2
    assert r["believe"] == pytest.approx(want)
    # gate: link_prob below threshold drops the mention entirely
    lp_low = spark.createDataFrame([("mm", 0.005)], "mention string, link_prob double")
    assert SC.score_has_prob(cands, lp_low, cfg).count() == 0


def test_top1_deterministic_tiebreak(spark):
    cands = spark.createDataFrame(
        [
            ("d", 0, 2, "mm", "ma", "mm", "e2", 0.5, [1.0, 0.0], [1.0, 0.0]),
            ("d", 0, 2, "mm", "ma", "mm", "e1", 0.5, [1.0, 0.0], [1.0, 0.0]),
        ],
        "doc_id string, start int, end int, surface string, parse_from string,"
        "mention string, entity_id string, p double, entity_vec array<double>,"
        "ctx_vec array<double>",
    ).withColumn("ctx_ent_sim", F.lit(1.0))
    lp = spark.createDataFrame([("mm", 0.5)], "mention string, link_prob double")
    got = SC.score_has_prob(cands, lp).collect()
    assert [r["entity_id"] for r in got] == ["e1"]  # ascending id wins ties
    # the same through the Arrow kernel: identical entity vectors with the
    # same p must give bit-equal sims, so the id decides
    mentions = spark.createDataFrame(
        [("d", 0, 2, "mm", "ma", [0.3, 0.7, 0.11])],
        "doc_id string, start int, end int, surface string, parse_from string,"
        "ctx_vec array<double>",
    )
    vec = [0.31, 0.69, 0.12]
    emb = spark.createDataFrame(
        [("e2", vec), ("e1", vec), ("e3", [0.1, 0.2, 0.3])], "key string, vec array<double>"
    )
    egm = spark.createDataFrame(
        [("mm", "e2", 0.4), ("mm", "e1", 0.4), ("mm", "e3", 0.2)],
        "mention string, entity_id string, p double",
    )
    cands = SC.candidate_table(mentions, egm.select("mention", "entity_id"), egm, emb)
    sims = {r["entity_id"]: r["ctx_word_sim"] for r in cands.collect()}
    assert sims["e1"] == sims["e2"]
    got = SC.score_has_prob(cands.withColumn("ctx_ent_sim", F.lit(1.0)), lp).collect()
    assert [r["entity_id"] for r in got] == ["e1"]


def test_no_prob_gates(spark):
    cfg = PredictorConfig()
    cands = spark.createDataFrame(
        [
            ("d", 0, 2, "tt", "tt", "tt", "e1", [1.0, 0.0], [1.0, 0.0]),
            ("d", 5, 7, "uu", "tt", "uu", "e2", [1.0, 0.0], [0.2, 1.0]),
        ],
        "doc_id string, start int, end int, surface string, parse_from string,"
        "mention string, entity_id string, entity_vec array<double>,"
        "ctx_vec array<double>",
    ).withColumn("ctx_ent_sim", F.lit(1.0))
    got = SC.score_no_prob(cands, cfg).collect()
    # e1: word_sim 1 > 0.3, believe = 0.5·1 + 0.5·1 = 1 > 0.5 ⇒ kept
    # e2: its mention's best word_sim ≈ 0.196 < 0.3 ⇒ mention-gated out
    assert [(r["surface"], r["entity_id"]) for r in got] == [("tt", "e1")]


def test_no_prob_below_threshold_candidate_can_win(spark):
    """The word-sim threshold gates the MENTION; a candidate below it still
    competes in the believe argmax (xlink.py:199-211 never replaces
    mention.candidates; :257-263 iterates all of them)."""
    cfg = PredictorConfig()
    # one mention, two candidates: e1 above the word-sim gate but low
    # believe; e2 below the gate but believe-dominant via ent_sim
    cands = spark.createDataFrame(
        [
            ("d", 0, 2, "tt", "tt", "tt", "e1", 0.40, 0.8),
            ("d", 0, 2, "tt", "tt", "tt", "e2", 0.25, 1.0),
        ],
        "doc_id string, start int, end int, surface string, parse_from string,"
        "mention string, entity_id string, ctx_word_sim double, ctx_ent_sim double",
    )
    got = SC.score_no_prob(cands, cfg).collect()
    # mention survives (0.40 > 0.3); believe e1 = 0.6, e2 = 0.625 ⇒ e2 wins
    assert [(r["entity_id"], round(r["believe"], 6)) for r in got] == [("e2", 0.625)]


def test_merge_results_prob_wins_overlap(spark):
    prob = spark.createDataFrame(
        [("d", 0, 5, "aaaaa", "e1", 0.9, "ma")],
        "doc_id string, start int, end int, surface string, entity_id string,"
        "believe double, parse_from string",
    )
    no_prob = spark.createDataFrame(
        [("d", 3, 8, "bbbbb", "e2", 0.8, "tt"), ("d", 20, 25, "ccccc", "e3", 0.7, "tt")],
        "doc_id string, start int, end int, surface string, entity_id string,"
        "believe double, parse_from string",
    )
    got = sorted(
        (r["start"], r["parse_from"]) for r in SC.merge_results(prob, no_prob).collect()
    )
    assert got == [(0, "ma"), (20, "tt")]


def test_strict_reference_bug_modes(spark):
    """strict_reference_bugs reproduces the reference's two known bugs:
    W5 stale-max (xlink.py:218-222 → last candidate wins) and W3 always-true
    check (xlink.py:299/310 → no-prob mentions always dropped)."""
    cands = spark.createDataFrame(
        [
            ("d", 0, 2, "mm", "tt", "mm", "e1", [1.0, 0.0], 0.9),
            ("d", 0, 2, "mm", "tt", "mm", "e2", [1.0, 0.0], 0.6),
        ],
        "doc_id string, start int, end int, surface string, parse_from string,"
        "mention string, entity_id string, entity_vec array<double>,"
        "ctx_word_sim double",
    )
    intended = SC.seed_argmax(cands).collect()
    assert [r["entity_id"] for r in intended] == ["e1"]  # true argmax
    strict = SC.seed_argmax(cands, strict_reference_bugs=True).collect()
    assert [r["entity_id"] for r in strict] == ["e2"]  # last candidate
    prob = spark.createDataFrame(
        [("d", 0, 5, "aaaaa", "e1", 0.9, "ma")],
        "doc_id string, start int, end int, surface string, entity_id string,"
        "believe double, parse_from string",
    )
    no_prob = spark.createDataFrame(
        [("d", 20, 25, "ccccc", "e3", 0.7, "tt")],
        "doc_id string, start int, end int, surface string, entity_id string,"
        "believe double, parse_from string",
    )
    assert SC.merge_results(prob, no_prob).count() == 2  # intended
    strict_merged = SC.merge_results(prob, no_prob, strict_reference_bugs=True)
    assert [r["parse_from"] for r in strict_merged.collect()] == ["ma"]


def test_cluster_memberships(spark):
    from xlink_spark.operators.cluster import cluster_memberships

    links = spark.createDataFrame(
        [
            ("d1", 0, 5, "aa", "e1", 0.9, "ma"),
            ("d2", 3, 8, "aa", "e1", 0.8, "ma"),
            ("d1", 9, 12, "bb", "e2", 0.7, "ma"),
            ("d3", 0, 2, "cc", "e3", 0.1, "ma"),  # below threshold
        ],
        "doc_id string, start int, end int, surface string, entity_id string,"
        "believe double, parse_from string",
    )
    m = cluster_memberships(links, threshold=0.5)
    rows = m.collect()
    assert len(rows) == 3
    by_ent = {}
    for r in rows:
        by_ent.setdefault(r["entity_id"], set()).add(r["cluster_id"])
    assert all(len(v) == 1 for v in by_ent.values())  # one cluster per entity
    assert "e3" not in by_ent


def test_seed_pool_from_dictionary_equals_candidate_seed_pool(spark):
    """Unambiguity is a surface property: the dictionary-grain seed pool
    must equal seed_pool over the exploded candidate table."""
    mentions = spark.createDataFrame(
        [
            ("d1", 0, 2, "aa", "ma"),   # surface aa: 1 candidate -> seed
            ("d1", 5, 7, "bb", "ma"),   # surface bb: 2 candidates -> no seed
            ("d2", 3, 5, "AA", "ma"),   # case-folds to aa -> seed
            ("d2", 9, 11, "cc", "ma"),  # cc's only candidate lacks embedding
        ],
        "doc_id string, start int, end int, surface string, parse_from string",
    )
    ma = spark.createDataFrame(
        [("aa", "e1", 3), ("bb", "e2", 2), ("bb", "e3", 1), ("cc", "e9", 1)],
        "mention string, entity_id string, cnt long",
    )
    egm = spark.createDataFrame(
        [("aa", "e1", 1.0), ("bb", "e2", 0.7), ("bb", "e3", 0.3), ("cc", "e9", 1.0)],
        "mention string, entity_id string, p double",
    )
    emb = spark.createDataFrame(
        [("e1", [1.0, 0.0]), ("e2", [0.0, 1.0]), ("e3", [0.5, 0.5])],
        "key string, vec array<double>",
    )
    cands = SC.candidate_table(
        SC.attach_context(mentions, spark.createDataFrame(
            [("d1", "aa is bb"), ("d2", "xx aa and cc")], "doc_id string, text string")),
        ma, egm, emb,
    )
    s_old, agg_old = SC.seed_pool(cands, emb)
    s_new, agg_new = SC.seed_pool_from_dictionary(mentions, ma, egm, emb)
    key = lambda df: sorted(
        (r["doc_id"], r["start"], r["end"], r["seed_eid"], tuple(r["seed_vec"]))
        for r in df.collect()
    )
    assert key(s_old) == key(s_new)
    assert len(key(s_new)) == 2  # the two "aa" occurrences
    akey = lambda df: sorted(
        (r["doc_id"], tuple(r["doc_sum"]), r["doc_seed_cnt"]) for r in df.collect()
    )
    assert akey(agg_old) == akey(agg_new)


def test_believe_v1_fusion(spark):
    """C10 v1 (xlink.py:338-345): P(e)^0.02 · word_sim · ent_sim, with a
    missing entity prior scoring 0 (the reference's None-guard)."""
    cfg = PredictorConfig(believe_version=1)
    cands = spark.createDataFrame(
        [
            ("d", 0, 2, "mm", "ma", "mm", "e1", 0.1, 1.0, 1.0),  # has prior
            ("d", 0, 2, "mm", "ma", "mm", "e2", 0.9, 1.0, 1.0),  # NO prior -> 0
        ],
        "doc_id string, start int, end int, surface string, parse_from string,"
        "mention string, entity_id string, p double, ctx_word_sim double,"
        "ctx_ent_sim double",
    )
    prior = spark.createDataFrame([("e1", 0.4)], "entity_id string, prior double")
    lp = spark.createDataFrame([("mm", 0.5)], "mention string, link_prob double")
    got = SC.score_has_prob(cands, lp, cfg, entity_prior=prior).collect()
    assert len(got) == 1 and got[0]["entity_id"] == "e1"
    assert got[0]["believe"] == pytest.approx((0.4**0.02 + 0.5) / 2)
    # v1 without the prior table is a loud error, not silent v2 behavior
    with pytest.raises(ValueError):
        SC.score_has_prob(cands, lp, cfg)


def test_cjk_context_tokenizer(spark):
    """With tokenizer='cjk', zh context chars hit a char-keyed embedding
    table; the default 'ws' tokenizer sees one unmatched run and yields a
    null context vector."""
    mentions = spark.createDataFrame(
        [("d", 2, 4, "巴黎", "ma")],
        "doc_id string, start int, end int, surface string, parse_from string",
    )
    docs = spark.createDataFrame([("d", "法国巴黎很大")], "doc_id string, text string")
    wemb = spark.createDataFrame(
        [("法", [1.0, 0.0]), ("国", [0.0, 1.0]), ("很", [1.0, 1.0]), ("大", [0.0, 1.0])],
        "key string, vec array<double>",
    )
    ctx = SC.attach_context(mentions, docs)
    ws = SC.context_word_vector(ctx, wemb, tokenizer="ws").collect()[0]
    assert ws["ctx_vec"] is None  # whitespace tokenizer finds no vocab hits
    cjk = SC.context_word_vector(ctx, wemb, tokenizer="cjk").collect()[0]
    assert cjk["ctx_vec"] is not None
    import math
    # pool = 法+国+很+大 = [2,3], unit-normalized
    n = math.sqrt(13)
    assert cjk["ctx_vec"][0] == pytest.approx(2 / n)
    assert cjk["ctx_vec"][1] == pytest.approx(3 / n)
