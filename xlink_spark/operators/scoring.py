"""Pairwise (mention, candidate-entity) scoring (SURVEY §2.2 F6-F8,
§2.4 A7/A8, §2.5 W3-W5, §2.8 C8-C11).

Reference lifecycle: xlink.py:107-354. Set-oriented redesign — every stage
is a DataFrame transform over the exploded (mention × candidate) table:

  mentions ─┬─ attach_context ── context_word_vector (A7)
            ├─ seeds (unambiguous mentions, xlink.py:115-145)
            │        └─ per-doc seed pool → context_entity_vector (A8, U3)
            └─ candidates ⋈ e_given_m ⋈ entity_embeddings
                     └─ believe fusion (C9/C10) → gates (F6-F8) → top-1 (W4)

Where the vector math runs — once per mention, never once per candidate:

  * the context-word pool (A7) and the candidate word cosine are numpy
    kernels (functions.vectors), each one map-side Arrow pass over MENTION
    rows; a mention's ctx_vec crosses into Python once, the word and
    entity tables once each as a broadcast. Against their JVM form (64
    per-dimension SUMs, then one interpreted zip_with dot per candidate)
    the 4-core flagship benchmark call went from 23.4 to 17.9 s median
    wall and from 38.6 to 29.0 task-CPU-s (10 interleaved pairs). A
    variant that carried one vector per CANDIDATE into Python lost task
    CPU, so the per-candidate cosines whose vectors sit on the candidate
    row (the entity-context pool, the no-prob pass) stay JVM column
    expressions (functions.vectors.cosine);
  * fusion, gates and top-1 are pure JVM (a pinned plan property).

Semantic pins (tests hold these):
  * empty context words ⇒ word_sim = 0            (xlink.py:319)
  * empty context entities ⇒ ent_sim = 1 on BOTH passes — the shared
    cal_candidate_context_entities_sim (xlink.py:329-334); the GM
    predictor's 0-convention (Predictor.py:210) is a different class
  * has-prob pool = ALL unambiguous seeds, own seed INCLUDED
    (xlink.py:157-161); no-prob pool: seeded mentions drop seeds whose
    entity matches any of their candidates (xlink.py:241-254)
  * the no-prob word-sim threshold gates the MENTION, not candidates
    (xlink.py:199-211); argmax runs over all candidates (xlink.py:257-263)
  * W5's intended semantics is argmax by word_sim (the reference's
    `max_sim`-never-updated bug, Predictor.py:140-144, is NOT reproduced)
  * W3's intended semantics keeps prob-mentions per overlap group (the
    reference's always-true `len(...) is not None`, xlink.py:299/310, is
    NOT reproduced)
  * ties everywhere break on ascending entity_id for determinism (the
    reference relies on Python sort stability).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark import cloudpickle
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

from xlink_spark.config import PredictorConfig
from xlink_spark.functions import vectors
from xlink_spark.functions.text import tokens_lower
from xlink_spark.functions.vectors import (
    collect_vectors,
    cosine,
    dot,
    infer_dim,
    list_matrix,
    pool_unit,
    unit_rows,
)


def _unit_entity_emb(entity_emb: DataFrame, dim: int) -> DataFrame:
    """(entity_id, entity_unit) — normalized ONCE on the small (broadcast)
    side via HOFs (row count is KB-bounded), so the per-candidate cosine is
    a single compact dot product."""
    from xlink_spark.functions.vectors import norm as vnorm

    e = entity_emb.select(
        F.col("key").alias("entity_id"),
        F.col("vec"),
        vnorm("vec").alias("_nrm"),
    )
    return e.select(
        "entity_id",
        F.when(
            F.col("_nrm") > 0,
            F.transform("vec", lambda x: x.cast("double") / F.col("_nrm")),
        ).alias("entity_unit"),
    )

MENTION_KEY = ["doc_id", "start", "end"]


def attach_context(
    mentions: DataFrame,
    docs_plain: DataFrame,
    cfg: PredictorConfig | None = None,
    window: int | None = None,
) -> DataFrame:
    """C13: ±window-char context strings around each mention (xlink.py:120-127).

    ``window`` overrides the config — the no-prob pass has its own window
    size (no_prob_context_words_window, xlink.py:185-187; both default 50).
    """
    cfg = cfg or PredictorConfig()
    w = window if window is not None else cfg.context_window
    joined = mentions.join(docs_plain.select("doc_id", "text"), "doc_id", "inner")
    prev_start = F.greatest(F.col("start") - w, F.lit(0))
    return joined.select(
        *mentions.columns,
        F.substring(F.col("text"), prev_start + 1, F.col("start") - prev_start).alias(
            "ctx_prev"
        ),
        F.substring(F.col("text"), F.col("end") + 1, w).alias("ctx_after"),
    )


def _broadcast_vectors(df: DataFrame, unit: bool = False):
    """Broadcast ``(keys, float64 matrix)`` of a (key, vec) table,
    collected once; ``unit`` normalizes the rows (zero-norm rows stay
    zero). Both vector tables are KB-bounded, the bound under which the
    JVM already broadcast them."""
    # the Arrow passes call the kernels of functions.vectors; ship that
    # module's functions by value, since executors may not have
    # xlink_spark on their import path
    cloudpickle.register_pickle_by_value(vectors)
    keys, mat = collect_vectors(df)
    if unit:
        mat = unit_rows(mat)[0]
    return df.sparkSession.sparkContext.broadcast((keys, mat))


def context_word_vector(
    mentions_ctx: DataFrame, word_emb: DataFrame, tokenizer: str = "ws"
) -> DataFrame:
    """A7: unit-normalized mean of the in-vocabulary context-word vectors.

    ``tokenizer``: "ws" = whitespace tokens (en path, WordParser.py:81-83);
    "cjk" = CJK chars as single tokens + non-CJK runs (the zh fallback —
    the reference segments zh context with jieba, WordParser.py:76-79; the
    char-unigram degradation keeps tokenization JVM-side and matches C7's
    jieba-less behavior).

    The tokens are JVM expressions; the pool is one map-side Arrow pass
    over the mention rows (``functions.vectors.pool_unit``): vocabulary
    lookup by ``pyarrow.compute.index_in`` against the broadcast word
    table (the vocab filter, xlink.py:124-127), per-mention sums by
    ``np.add.reduceat``, unit normalization (the mean's 1/n cancels). Each
    mention crosses into Python once, as its token list; no vector
    crosses in. ``ctx_vec`` is null when the context has no
    in-vocabulary word or its vectors sum to zero (word_sim 0,
    xlink.py:319). Output: the input columns less ``ctx_prev`` and
    ``ctx_after``, plus ``ctx_vec``.

    Why numpy: in a traced 4-core flagship benchmark run this stage takes
    3.0 s wall and 3.0 task-CPU-s; its JVM form (a token explode, a
    broadcast join on the word, 64 per-dimension SUM aggregates with a
    ``first()`` carry) took 7.5 s and 10.4 task-CPU-s.
    """
    from xlink_spark.functions.text import tokens_lower_cjk

    tok_fn = tokens_lower_cjk if tokenizer == "cjk" else tokens_lower
    vocab = _broadcast_vectors(word_emb)
    rows = mentions_ctx.select(
        *[c for c in mentions_ctx.columns if c not in ("ctx_prev", "ctx_after")],
        F.concat(tok_fn("ctx_prev"), tok_fn("ctx_after")).alias("_words"),
    )
    schema = StructType(
        rows.schema.fields[:-1] + [StructField("ctx_vec", ArrayType(DoubleType()))]
    )

    def pool(batches):
        keys, mat = vocab.value
        for b in batches:
            yield pa.RecordBatch.from_arrays(
                [*b.columns[:-1], pool_unit(b.column(b.num_columns - 1), keys, mat)],
                names=schema.names,
            )

    return rows.mapInArrow(pool, schema)


def candidate_table(
    mentions: DataFrame,
    mention_anchors: DataFrame,
    e_given_m: DataFrame,
    entity_emb: DataFrame,
    broadcast_dict: bool = True,
) -> DataFrame:
    """Explode mention × candidate with the prior ``p`` and ``ctx_word_sim``.

    F6/F4 at predict time: candidates without an embedding are dropped,
    as are candidates absent from e_given_m (xlink.py:196-206,
    Predictor.py:117-126). Repeated (mention, entity) dictionary rows keep
    their multiplicity. A mention without candidates emits no rows.
    ``mentions`` carries ``ctx_vec`` from ``context_word_vector``; without
    the column every context counts as empty (word_sim 0). Output: the
    mention columns less the context strings and ``ctx_vec``, plus
    ``mention``, ``entity_id``, ``p`` and ``ctx_word_sim``.

    Shape: the dictionary is grouped to one (entity_id, p) list per
    surface and joined to the mentions, so each mention row — with its
    ``ctx_vec`` — crosses into Python ONCE. One Arrow pass then explodes
    the list and scores every candidate against the broadcast entity unit
    matrix with a row-wise ``einsum`` (equal vectors give bit-equal sims,
    which the top-1 tie-break on entity_id needs). No vector crosses per
    candidate: a variant that carried the entity vector on each candidate
    row into an Arrow cosine lost task CPU in 3 of 4 benchmark runs. In a
    traced 4-core flagship benchmark run this stage takes 2.7 s wall and
    2.7 task-CPU-s; its JVM form (broadcast entity joins and one
    interpreted ``zip_with`` dot per candidate) took 3.8 s and 6.7.

    Regimes: the dictionary tables are KB-bounded and broadcast by the JVM
    (``broadcast_dict``), so the explosion never shuffles detected
    mentions by surface — the surface key is Zipf-skewed and a sort-merge
    join on it collapses to a handful of hot reducers. When the dictionary
    outgrows broadcast, ``broadcast_dict=False`` keeps every dictionary
    join distributed (pre-salt with detect.candidate_join); the dictionary
    is never collected, and the same kernel runs.
    """
    maybe_b = F.broadcast if broadcast_dict else (lambda df: df)
    ents = _broadcast_vectors(entity_emb, unit=True)
    cand_lists = (
        mention_anchors.select("mention", "entity_id")
        .join(maybe_b(e_given_m.select("mention", "entity_id", "p")), ["mention", "entity_id"])
        .groupBy("mention")
        .agg(F.collect_list(F.struct("entity_id", "p")).alias("_cands"))
    )
    narrow = mentions.drop("ctx_prev", "ctx_after")
    if "ctx_vec" not in narrow.columns:
        narrow = narrow.withColumn("ctx_vec", F.lit(None).cast("array<double>"))
    rows = narrow.withColumn("mention", F.lower("surface")).join(
        maybe_b(cand_lists), "mention", "inner"
    )
    carry = [f for f in rows.schema.fields if f.name not in ("ctx_vec", "_cands")]
    schema = StructType(
        carry
        + rows.schema["_cands"].dataType.elementType.fields
        + [StructField("ctx_word_sim", DoubleType())]
    )
    carry_names = [f.name for f in carry]

    def explode_scored(batches):
        keys, unit = ents.value
        for b in batches:
            cands = b.column("_cands").flatten()
            eid = pc.index_in(cands.field("entity_id"), value_set=keys)
            hit = eid.is_valid()
            row = np.repeat(
                np.arange(b.num_rows), pc.list_value_length(b.column("_cands")).to_numpy()
            )[hit.to_numpy(zero_copy_only=False)]
            if not len(row):
                continue
            ctx = list_matrix(b.column("ctx_vec"), unit.shape[1])
            sim = np.einsum("ij,ij->i", unit[eid.drop_null().to_numpy()], ctx[row])
            yield pa.RecordBatch.from_arrays(
                [
                    *b.select(carry_names).take(pa.array(row)).columns,
                    cands.field("entity_id").filter(hit),
                    cands.field("p").filter(hit),
                    pa.array(sim),
                ],
                names=schema.names,
            )

    return rows.mapInArrow(explode_scored, schema)


def _ensure_word_sim(candidates: DataFrame) -> DataFrame:
    """Compute ctx_word_sim from vectors when not already present."""
    if "ctx_word_sim" in candidates.columns:
        return candidates
    return candidates.withColumn(
        "ctx_word_sim",
        F.when(F.col("ctx_vec").isNull(), F.lit(0.0)).otherwise(
            cosine("entity_vec", "ctx_vec")
        ),
    )


def _drop_arrays(df: DataFrame) -> DataFrame:
    """Drop array-typed columns so window sorts/shuffles stay narrow."""
    from pyspark.sql.types import ArrayType

    arr = [f.name for f in df.schema.fields if isinstance(f.dataType, ArrayType)]
    return df.drop(*arr) if arr else df


def seed_pool_from_dictionary(
    mentions: DataFrame,
    mention_anchors: DataFrame,
    e_given_m: DataFrame,
    entity_emb: DataFrame,
    broadcast_dict: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """seed_pool computed at SURFACE grain — no pass over exploded candidates.

    A mention's candidate set is a function of its surface alone (the
    dictionary joins are all surface/entity-keyed), so unambiguity is a
    DICTIONARY property: count surviving candidates per surface once on the
    KB-bounded side, broadcast the single-candidate surfaces, and join the
    detected mentions. Equivalent to ``seed_pool(candidate_table(...))`` —
    pinned by test — but the expensive input never shuffles, and the caller
    no longer needs to persist the candidate table just to derive seeds
    (the plan becomes a single linear chain).

    ``mentions``: detected mentions with ``surface``; returns the same
    (seeds, doc_agg) pair as ``seed_pool``.
    """
    surf = (
        mention_anchors.select("mention", "entity_id")
        .join(
            e_given_m.select("mention", "entity_id"),
            ["mention", "entity_id"],
            "left_semi",
        )
        .join(
            entity_emb.select(F.col("key").alias("entity_id")),
            "entity_id",
            "left_semi",
        )
    )
    surf1 = (
        surf.groupBy("mention")
        .agg(F.count(F.lit(1)).alias("_n"), F.first("entity_id").alias("seed_eid"))
        .filter(F.col("_n") == 1)
        .select("mention", "seed_eid")
    )
    maybe_b = F.broadcast if broadcast_dict else (lambda df: df)
    seeds = (
        mentions.select(*MENTION_KEY, F.lower("surface").alias("mention"))
        .join(maybe_b(surf1), "mention", "inner")
        .join(
            F.broadcast(
                entity_emb.select(
                    F.col("key").alias("seed_eid"), F.col("vec").alias("seed_vec")
                )
            ),
            "seed_eid",
            "inner",
        )
        .select(*MENTION_KEY, "seed_eid", "seed_vec")
    )
    return seeds, doc_agg_from_seeds(seeds)


def seed_pool(candidates: DataFrame, entity_emb: DataFrame | None = None) -> DataFrame:
    """Unambiguous-mention seeds (xlink.py:115-145).

    A mention with exactly one surviving candidate contributes that entity's
    vector to its document's context pool. Returns (seeds, doc_agg):
    seeds = (doc_id, start, end, seed_eid, seed_vec); doc_agg = per-doc
    ELEMENTWISE SUM + count (doc_id, doc_sum, doc_seed_cnt) — the per-doc
    seed list is reduced immediately so nothing wide outlives this
    aggregation.

    With ``entity_emb`` given, the candidate shuffle carries only ids — the
    seed vector is broadcast-joined after the uniqueness aggregation (the
    at-scale path); otherwise the candidate rows must carry ``entity_vec``.
    """
    if entity_emb is not None:
        counts = candidates.groupBy(*MENTION_KEY).agg(F.count(F.lit(1)).alias("n"))
        unambig = counts.filter(F.col("n") == 1).select(*MENTION_KEY)
        seeds = (
            candidates.select(*MENTION_KEY, "entity_id")
            .join(unambig, MENTION_KEY, "left_semi")
            .join(
                F.broadcast(
                    entity_emb.select(
                        F.col("key").alias("entity_id"), F.col("vec").alias("seed_vec")
                    )
                ),
                "entity_id",
                "inner",
            )
            .select(*MENTION_KEY, F.col("entity_id").alias("seed_eid"), "seed_vec")
        )
    else:
        w_m = Window.partitionBy(*MENTION_KEY)
        seeds = (
            candidates.withColumn("n_cands", F.count(F.lit(1)).over(w_m))
            .filter(F.col("n_cands") == 1)
            .select(
                *MENTION_KEY,
                F.col("entity_id").alias("seed_eid"),
                F.col("entity_vec").alias("seed_vec"),
            )
        )
    return seeds, doc_agg_from_seeds(seeds)


def doc_agg_from_seeds(seeds: DataFrame) -> DataFrame:
    """(doc_id, doc_sum, doc_seed_cnt) — elementwise seed-vector sums."""
    return (
        seeds.groupBy("doc_id")
        .agg(
            F.collect_list("seed_vec").alias("vs"),
            F.count(F.lit(1)).alias("doc_seed_cnt"),
        )
        .select(
            "doc_id",
            F.aggregate(
                "vs",
                F.transform(F.element_at("vs", 1), lambda x: x.cast("double") * 0),
                lambda acc, v: F.zip_with(acc, v, lambda a, b: a + b.cast("double")),
            ).alias("doc_sum"),
            "doc_seed_cnt",
        )
    )


def context_entity_vector(
    candidates: DataFrame,
    seeds: DataFrame,
    doc_agg: DataFrame,
    empty_sim: float,
    entity_emb: DataFrame | None = None,
    exclusion: str = "none",
) -> DataFrame:
    """A8 + U3: per-candidate context-entity similarity.

    ``exclusion`` selects the reference pass's pool semantics:

    * ``"none"`` — has-prob pass (xlink.py:157-161): the pool is ALL
      unambiguous seeds of the doc, INCLUDING the mention's own seed
      (the reference applies no exclusion there).
    * ``"candidate_overlap"`` — no-prob pass (xlink.py:241-254): a SEEDED
      mention's pool drops every seed whose entity_id matches any of the
      mention's candidates; unseeded mentions keep the full pool. Requires
      ``seeds`` to carry a ``seed_eid`` column.
    * ``"own"`` — drop exactly the mention's own seed row. Not a reference
      semantics; kept for A/B comparison and tests.

    The pool vector is materialized per MENTION (not per candidate) and
    joined to the exploded candidates last — at 10^12 docs the wide columns
    move once per mention, and the per-candidate work is a single cosine
    against a broadcast-joined entity vector.
    ``empty_sim`` is the empty-pool convention: the reference's shared
    cal_candidate_context_entities_sim returns 1 on an empty pool for BOTH
    passes (xlink.py:329-334); the GM predictor (Predictor.py:210) uses 0.
    """
    if exclusion == "none":
        # the pool is a PER-DOC quantity here (no per-mention exclusion):
        # skip the mention-grain distinct + mention-keyed join entirely and
        # attach the doc pool by doc_id — doc_agg is orders of magnitude
        # smaller than the mention set
        pool_key = ["doc_id"]
        mp = doc_agg.withColumn(
            "_ex_vec", F.lit(None).cast("array<double>")
        ).withColumn("_ex_cnt", F.lit(0))
    else:
        pool_key = list(MENTION_KEY)
        mention_keys = candidates.select(*MENTION_KEY).distinct()
        mp = mention_keys.join(doc_agg, "doc_id", "left")
    if exclusion == "own":
        mp = mp.join(
            seeds.select(*MENTION_KEY, F.col("seed_vec").alias("_ex_vec")),
            MENTION_KEY,
            "left",
        ).withColumn(
            "_ex_cnt",
            F.when(F.col("_ex_vec").isNotNull(), F.lit(1)).otherwise(F.lit(0)),
        )
    elif exclusion == "candidate_overlap":
        seeded = seeds.select(*MENTION_KEY).distinct().withColumn("_seeded", F.lit(1))
        doc_seeds = seeds.select(
            "doc_id", F.col("seed_eid").alias("entity_id"), "seed_vec"
        )
        # per-mention sum of doc seeds sharing an entity with ANY of the
        # mention's candidates — narrow equi-join on (doc_id, entity_id);
        # matches are rare, so carrying seed_vec through it is cheap
        excl = (
            candidates.select(*MENTION_KEY, "entity_id")
            .join(doc_seeds, ["doc_id", "entity_id"], "inner")
            .groupBy(*MENTION_KEY)
            .agg(
                F.collect_list("seed_vec").alias("_vs"),
                F.count(F.lit(1)).alias("_exn"),
            )
            .select(
                *MENTION_KEY,
                F.aggregate(
                    "_vs",
                    F.transform(F.element_at("_vs", 1), lambda x: x.cast("double") * 0),
                    lambda acc, v: F.zip_with(acc, v, lambda a, b: a + b.cast("double")),
                ).alias("_ex_all"),
                "_exn",
            )
        )
        mp = (
            mp.join(seeded, MENTION_KEY, "left")
            .join(excl, MENTION_KEY, "left")
            .withColumn(
                "_ex_cnt",
                F.when(
                    F.col("_seeded") == 1, F.coalesce(F.col("_exn"), F.lit(0))
                ).otherwise(F.lit(0)),
            )
            .withColumn("_ex_vec", F.when(F.col("_seeded") == 1, F.col("_ex_all")))
            .drop("_seeded", "_ex_all", "_exn")
        )
    elif exclusion != "none":  # pragma: no cover - guard typos at call sites
        raise ValueError(f"unknown exclusion mode: {exclusion!r}")
    zero = F.transform(F.col("doc_sum"), lambda x: x * 0)
    pool_cnt = F.coalesce(F.col("doc_seed_cnt"), F.lit(0)) - F.col("_ex_cnt")
    pool_raw = F.when(
        (F.col("doc_sum").isNotNull()) & (pool_cnt > 0),
        F.zip_with(
            "doc_sum",
            F.coalesce(F.col("_ex_vec").cast("array<double>"), zero),
            lambda a, b: a - b.cast("double"),
        ),
    )
    if entity_emb is not None:
        # at-scale path: candidates shuffle NARROW (no vectors). Pool vector
        # is UNIT-normalized once per mention (the /cnt mean cancels), the
        # entity side once per entity (broadcast) — per-candidate cosine is
        # a single compact dot product. (Arrow-batched per-candidate
        # variants measured faster at low core counts but regressed under
        # JVM+Python oversubscription at local[32], and lost task CPU on
        # the 4-core benchmark.)
        dim = infer_dim(entity_emb, "vec")
        from xlink_spark.functions.vectors import norm as vnorm

        mp = mp.select(*pool_key, pool_raw.alias("_praw"))
        mp = mp.withColumn("_nrm", vnorm("_praw")).select(
            *pool_key,
            F.when(
                F.col("_praw").isNotNull() & (F.col("_nrm") > 0),
                F.transform("_praw", lambda x: x / F.col("_nrm")),
            ).alias("pool_vec"),
        )
        c = candidates.drop("entity_vec").join(mp, pool_key, "left")
        if dim:
            c = c.join(
                F.broadcast(_unit_entity_emb(entity_emb, dim)), "entity_id", "left"
            )
            sim = F.when(F.col("entity_unit").isNull(), F.lit(0.0)).otherwise(
                dot("entity_unit", "pool_vec")
            )
        else:
            c = c.join(
                F.broadcast(
                    entity_emb.select(
                        F.col("key").alias("entity_id"), F.col("vec").alias("entity_vec")
                    )
                ),
                "entity_id",
                "left",
            )
            sim = cosine("entity_vec", "pool_vec")
        c = c.withColumn(
            "ctx_ent_sim",
            F.when(F.col("pool_vec").isNull(), F.lit(empty_sim)).otherwise(sim),
        )
        return c.drop("pool_vec", "entity_vec", "entity_unit")
    else:
        mp = mp.select(
            *pool_key,
            F.when(
                pool_raw.isNotNull(),
                F.transform(pool_raw, lambda x: x / pool_cnt),
            ).alias("pool_vec"),
        )
        c = candidates.join(mp, pool_key, "left")
        c = c.withColumn(
            "ctx_ent_sim",
            F.when(F.col("pool_vec").isNull(), F.lit(empty_sim)).otherwise(
                cosine("entity_vec", "pool_vec")
            ),
        )
    return c.drop("pool_vec")


def score_has_prob(
    candidates: DataFrame,
    link_prob: DataFrame,
    cfg: PredictorConfig | None = None,
    entity_prior: DataFrame | None = None,
) -> DataFrame:
    """The has-prob scoring path (xlink.py:147-176, 347-354).

    Expects candidates with ``ctx_vec``, ``ctx_ent_sim``, ``p`` (=P(e|m)),
    ``entity_vec``. Produces per-mention winners with believe scores:

      cand_believe = P(e|m)^α · word_sim · ent_sim       (believe_score_v2)
      mention_believe = (best_cand_believe + link_prob)/2 (xlink.py:172-173)
      gates: link_prob > link_prob_th AND believe > believe_th

    ``cfg.believe_version == 1`` (C10 v1, xlink.py:338-345 — dead code in
    the reference but part of its API surface) swaps the prior term for the
    entity prior P(e): pass ``entity_prior`` = (entity_id, prior); a
    candidate with no prior row scores 0, as in the reference's
    None-guard.
    """
    cfg = cfg or PredictorConfig()
    scored = _ensure_word_sim(candidates)
    if cfg.believe_version == 1:
        if entity_prior is None:
            raise ValueError("believe_version=1 requires entity_prior")
        scored = scored.join(
            F.broadcast(entity_prior.select("entity_id", "prior")),
            "entity_id",
            "left",
        ).withColumn(
            "cand_believe",
            F.coalesce(
                F.pow("prior", F.lit(cfg.prior_power))
                * F.col("ctx_word_sim")
                * F.col("ctx_ent_sim"),
                F.lit(0.0),
            ),
        )
    else:
        scored = scored.withColumn(
            "cand_believe",
            F.pow("p", F.lit(cfg.prior_power))
            * F.col("ctx_word_sim")
            * F.col("ctx_ent_sim"),
        )
    scored = _drop_arrays(scored)  # narrow rows through the top-1 sort
    top = Window.partitionBy(*MENTION_KEY).orderBy(
        F.col("cand_believe").desc(), F.col("entity_id").asc()
    )
    best = scored.withColumn("rn", F.row_number().over(top)).filter(F.col("rn") == 1)
    gated = (
        best.join(F.broadcast(link_prob.select("mention", "link_prob")), "mention", "inner")
        .withColumn("believe", (F.col("cand_believe") + F.col("link_prob")) / 2)
        .filter(
            (F.col("link_prob") > cfg.link_prob_th) & (F.col("believe") > cfg.believe_th)
        )
    )
    return gated.select(
        *MENTION_KEY,
        "surface",
        "entity_id",
        "believe",
        F.lit("ma").alias("parse_from"),
    )


def score_no_prob(
    candidates: DataFrame, cfg: PredictorConfig | None = None
) -> DataFrame:
    """The no-prob (title-dict) path — xlink.py:179-270.

    Expects candidates with ``ctx_vec``, ``ctx_ent_sim`` (empty ⇒ 1),
    ``entity_vec``. believe = w·word_sim + (1−w)·ent_sim.

    Gate semantics pinned to the reference: the word-sim threshold gates
    the MENTION, not the candidates — a mention survives iff ANY candidate
    has word_sim > np_ctx_word_sim_th (xlink.py:199-211, valid_candidates
    only decide survival; ``mention.candidates`` is never replaced), and
    the final argmax by believe runs over ALL candidates, including ones
    below the word-sim threshold (xlink.py:257-263). Mention gate: best
    believe > np_believe_th.
    """
    cfg = cfg or PredictorConfig()
    scored = _ensure_word_sim(candidates).withColumn(
        "believe",
        cfg.np_words_weight * F.col("ctx_word_sim")
        + (1 - cfg.np_words_weight) * F.col("ctx_ent_sim"),
    )
    scored = _drop_arrays(scored)
    # one shuffle: max() and row_number() share the mention partitioning
    w_m = Window.partitionBy(*MENTION_KEY)
    top = w_m.orderBy(F.col("believe").desc(), F.col("entity_id").asc())
    best = (
        scored.withColumn("_max_ws", F.max("ctx_word_sim").over(w_m))
        .withColumn("rn", F.row_number().over(top))
        .filter(
            (F.col("_max_ws") > cfg.np_ctx_word_sim_th)
            & (F.col("rn") == 1)
            & (F.col("believe") > cfg.np_believe_th)
        )
    )
    return best.select(
        *MENTION_KEY,
        "surface",
        "entity_id",
        "believe",
        F.lit("tt").alias("parse_from"),
    )


def seed_argmax(
    candidates: DataFrame,
    cfg: PredictorConfig | None = None,
    strict_reference_bugs: bool = False,
) -> DataFrame:
    """W5: per-mention argmax by word_sim, kept iff sim > seed threshold.

    Default = intended semantics of xlink.py:213-225. The reference's bug
    (xlink.py:218-222): ``max_sim = -1`` is never updated, so
    ``candidate.context_words_sim > max_sim`` is always true and
    ``max_cand`` ends up the LAST candidate in insertion order; the seed
    gate then tests that last candidate's sim.
    ``strict_reference_bugs=True`` reproduces this for parity testing
    against reference outputs (insertion order ≙ ascending entity_id here).
    """
    cfg = cfg or PredictorConfig()
    scored = _drop_arrays(_ensure_word_sim(candidates))
    if strict_reference_bugs:
        pick = Window.partitionBy(*MENTION_KEY).orderBy(F.col("entity_id").desc())
        return (
            scored.withColumn("rn", F.row_number().over(pick))
            .filter((F.col("rn") == 1) & (F.col("ctx_word_sim") > cfg.np_seed_th))
            .select(*MENTION_KEY, "entity_id", "ctx_word_sim")
        )
    return (
        scored.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy(*MENTION_KEY).orderBy(
                    F.col("ctx_word_sim").desc(), F.col("entity_id").asc()
                )
            ),
        )
        .filter((F.col("rn") == 1) & (F.col("ctx_word_sim") > cfg.np_seed_th))
        .select(*MENTION_KEY, "entity_id", "ctx_word_sim")
    )


def merge_results(
    prob_links: DataFrame,
    no_prob_links: DataFrame,
    strict_reference_bugs: bool = False,
) -> DataFrame:
    """W3: merge the two passes — prob wins overlap groups (xlink.py:272-316).

    Same overlap-group window as resolve_conflicts; within a group keep all
    'ma' rows if any exist, else the 'tt' rows — the INTENDED semantics.
    The reference's bug (xlink.py:299/310): ``if len(mentions_has_prob) is
    not None`` is always true, so the no-prob branch never executes and
    every no-prob mention is silently dropped.
    ``strict_reference_bugs=True`` reproduces that: the merge returns the
    prob-side links only.
    """
    if strict_reference_bugs:
        return prob_links
    both = prob_links.unionByName(no_prob_links)
    w_scan = (
        Window.partitionBy("doc_id")
        .orderBy("start", "end")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    grouped = both.withColumn(
        "new_group",
        (F.col("start") >= F.coalesce(F.max("end").over(w_scan), F.lit(-1))).cast("int"),
    ).withColumn(
        "grp",
        F.sum("new_group").over(
            Window.partitionBy("doc_id")
            .orderBy("start", "end")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    w_grp = Window.partitionBy("doc_id", "grp")
    return (
        grouped.withColumn(
            "grp_has_ma", F.max((F.col("parse_from") == "ma").cast("int")).over(w_grp)
        )
        .filter((F.col("parse_from") == "ma") | (F.col("grp_has_ma") == 0))
        .drop("new_group", "grp", "grp_has_ma")
    )
