"""The flagship query: full linking pipeline over the driver's testdata.

Self-supervised projection of the XLink data model onto the flat-text
corpus at /root/testdata:

  * documents(doc_id, text, lang, source) → span docs (one text span each)
  * dictionary: mention := token (len>1), entity := token '@' source — an
    ambiguous dictionary (up to 20 candidates per mention, Zipf-headed)
  * entity embeddings: entity → embeddings.embedding at
    row pmod(xxhash64(entity), |embeddings|) (deterministic pseudo-vectors)
  * word embeddings: same construction over tokens

Then the real pipeline runs end-to-end: broadcast-dict detection → conflict
windows → candidate join → prior + context-cosine fusion → gates → top-1.
No SQL oracle: the output at sf0.001 is pinned by content (rows and an
order-insensitive digest) in the pytest suite.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xlink_spark.config import DEFAULT, DictionaryConfig
from xlink_spark.operators import detect as DT
from xlink_spark.operators import probs as PR
from xlink_spark.operators import scoring as SC


def _tokens(plain: DataFrame) -> DataFrame:
    """Tokens from the (already lower-cased, repartitioned, cached) plain
    table — every downstream groupBy inherits its full parallelism."""
    t = plain.select(
        "doc_id",
        "source",
        F.explode(F.split("text", r"\s+")).alias("tok"),
    )
    return t.filter((F.col("tok") != "") & (F.length("tok") > 1))


def _hash_embeddings(
    keys: DataFrame, key_col: str, emb: DataFrame, n: int | None = None
) -> DataFrame:
    """key → embeddings row at pmod(xxhash64(key), n). Deterministic."""
    n = n if n is not None else emb.count()
    keyed = keys.select(F.col(key_col).alias("key")).distinct().withColumn(
        "vec_id", F.pmod(F.xxhash64("key"), F.lit(n))
    )
    return keyed.join(F.broadcast(emb.select("vec_id", "embedding")), "vec_id").select(
        "key", F.col("embedding").alias("vec")
    )


def linking_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end links over the testdata corpus.

    Output: (doc_id, start, end, surface, entity_id, believe, parse_from).
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    # the corpus parquet may be few small files → 1-2 input splits; spread
    # docs across all cores BEFORE the Python detection scan (at 100 TB the
    # scan has thousands of natural splits and this repartition is a no-op
    # cost — here it is the difference between 1-way and N-way detection)
    par = spark.sparkContext.defaultParallelism * 2
    plain = (
        docs.select(
            F.col("doc_id").cast("string").alias("doc_id"),
            "source",
            F.lower("text").alias("text"),
        )
        .repartition(par, "doc_id")
        .cache()
    )

    toks = _tokens(plain)
    ma = (
        toks.select(
            F.col("tok").alias("mention"),
            F.concat_ws("@", "tok", "source").alias("entity_id"),
        )
        .groupBy("mention", "entity_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
    ).cache()

    probs = PR.four_probs(ma)
    freq = toks.groupBy(F.col("tok").alias("mention")).agg(F.count(F.lit(1)).alias("freq"))
    lp = PR.link_prob(probs["link_m"], freq)

    n_emb = emb.count()
    # both tables are consumed by several broadcast builds, a dimension
    # probe and the scoring kernels' toArrow reads — cache so each
    # derivation chain runs once
    entity_emb = _hash_embeddings(ma.select("entity_id"), "entity_id", emb, n_emb).cache()
    word_emb = _hash_embeddings(toks.select("tok"), "tok", emb, n_emb).cache()

    surface_dict = DT.build_surface_dict(ma)
    # mentions is the fan-out point now (ctx branch + seed branch): persist
    # the NARROW mention rows eagerly — a lazy persist lets concurrent AQE
    # branches race the same uncached plan, and the old alternative
    # (persisting the 20x-exploded candidate table) costs 20x the memory
    mentions = DT.resolve_conflicts(DT.detect_mentions(plain, surface_dict)).persist()
    mentions.count()
    ctx = SC.context_word_vector(SC.attach_context(mentions, plain), word_emb)
    # seeds derive from the DICTIONARY + mentions (surface grain), not from
    # the exploded candidate table — the plan is one linear chain, so no
    # persist/materialization barrier is needed at the candidate fan-out
    # (the old seed_pool(cands) formulation forced a 20x-exploded cache)
    seeds, doc_agg = SC.seed_pool_from_dictionary(
        mentions, ma, probs["e_given_m"], entity_emb
    )
    cands = SC.candidate_table(ctx, ma, probs["e_given_m"], entity_emb)
    cands = SC.context_entity_vector(
        cands, seeds, doc_agg, empty_sim=1.0, entity_emb=entity_emb,
        exclusion="none",  # has-prob pass: pool includes own seed
    )
    links = SC.score_has_prob(cands, lp, DEFAULT.predictor)
    return links

