"""The benchmark's workloads: one operation each, its checks, and a traced
mirror of the operation's call sequence.

Every workload exposes:

* ``prepare(work, seed)`` — write the seeded inputs (before any timing);
* ``load(spark)`` — touch the inputs from a fresh session (part of set-up);
* ``run(spark)`` — one untraced operation, the unit the loop times;
* ``check(spark)`` — read back what ``run`` committed and compare it with
  the pinned output; returns (ok, details);
* ``release(spark)`` — drop what the operation left cached or committed
  (untimed), so the next call starts from the same state;
* ``traced(spark, tracer)`` — the same operation split into spans at its
  layer boundaries, each materialized, ending with the same commit.

Outputs are pinned for the fixed base inputs (``inputs.py``). A pin
changes only when the program's output changes, and then on purpose. A
mirror repeats its operation's calls; when the operation's call sequence
changes, the mirror must follow, or the traced run's check fails.
"""

from __future__ import annotations

import argparse
import hashlib
import os
import shutil
import time

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from perfbench import inputs


def table_digest(df: pd.DataFrame) -> str:
    """Order-insensitive md5 over the rows of ``df``'s columns, in order.

    Floats are rounded to 6 decimals, the policy of
    ``tools/check_oracles.norm_cell``: rounding absorbs drift from
    reordered float sums unless a value sits on a rounding boundary, and
    larger drift moves the digest."""
    cols = []
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_float_dtype(s):
            cols.append(s.round(6).map(lambda v: f"{v:.6f}"))
        else:
            cols.append(s.astype(str))
    lines = cols[0].str.cat(cols[1:], sep="\x1f") if len(cols) > 1 else cols[0]
    return hashlib.md5("\n".join(sorted(lines)).encode()).hexdigest()


def _read_dir(path: str, columns: list[str]) -> pd.DataFrame:
    return pq.read_table(path, columns=columns).to_pandas()


def bcubed_f(pred: np.ndarray, gold: np.ndarray) -> float:
    """B-cubed F1 of a clustering against gold labels (item-averaged)."""
    df = pd.DataFrame({"p": pred, "g": gold})
    both = df.groupby(["p", "g"])["p"].transform("size")
    prec = (both / df.groupby("p")["p"].transform("size")).mean()
    rec = (both / df.groupby("g")["g"].transform("size")).mean()
    return float(2 * prec * rec / (prec + rec))


class Flagship:
    """``flagship.linking_pipeline`` over a flat-text corpus shaped like the
    testdata one (``inputs.flagship_tables``)."""

    name = "flagship"
    LINK_COLS = ["doc_id", "start", "end", "entity_id", "believe"]
    PINNED_ROWS = 26592
    PINNED_DIGEST = "1609e664ab9fd12f4ec924d8d5dad9d7"

    def prepare(self, work: str, seed: int) -> None:
        docs, emb = inputs.flagship_tables()
        self.data = os.path.join(work, "corpus")
        self.out = os.path.join(work, "links")
        inputs.write_seeded(docs, os.path.join(self.data, "documents.parquet"), seed, "documents")
        inputs.write_seeded(
            emb, os.path.join(self.data, "embeddings.parquet"), seed + 1, "embeddings"
        )

    def load(self, spark) -> None:
        spark.read.parquet(os.path.join(self.data, "documents.parquet")).count()

    def run(self, spark) -> None:
        from xlink_spark.flagship import linking_pipeline

        linking_pipeline(spark, self.data).write.mode("overwrite").parquet(self.out)

    def release(self, spark) -> None:
        spark.catalog.clearCache()

    def check(self, spark) -> tuple[bool, dict]:
        links = _read_dir(self.out, self.LINK_COLS)
        got = {"rows": len(links), "digest": table_digest(links)}
        ok = got["rows"] == self.PINNED_ROWS and got["digest"] == self.PINNED_DIGEST
        return ok, got

    def traced(self, spark, tracer) -> dict:
        """Mirror of ``linking_pipeline``: one span per layer boundary."""
        from pyspark.sql import functions as F

        from xlink_spark.config import DEFAULT
        from xlink_spark.flagship import _hash_embeddings, _tokens
        from xlink_spark.operators import detect as DT
        from xlink_spark.operators import probs as PR
        from xlink_spark.operators import scoring as SC

        with tracer.span("flagship.prep", "prep") as sp:
            docs = spark.read.parquet(f"{self.data}/documents.parquet")
            emb = spark.read.parquet(f"{self.data}/embeddings.parquet")
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
            n_emb = emb.count()
            entity_emb = _hash_embeddings(ma.select("entity_id"), "entity_id", emb, n_emb).cache()
            word_emb = _hash_embeddings(toks.select("tok"), "tok", emb, n_emb).cache()
            plain.count()
            entity_emb.count()
            word_emb.count()
            sp.rows_out = ma.count()
        with tracer.span("probs", "model") as sp:
            probs = PR.four_probs(ma)
            freq = toks.groupBy(F.col("tok").alias("mention")).agg(F.count(F.lit(1)).alias("freq"))
            lp, _ = tracer.keep(PR.link_prob(probs["link_m"], freq))
            e_given_m, sp.rows_out = tracer.keep(probs["e_given_m"])
        with tracer.span("detect", "candidates") as sp:
            surface_dict = DT.build_surface_dict(ma)
            mentions = DT.resolve_conflicts(DT.detect_mentions(plain, surface_dict)).persist()
            sp.rows_out = mentions.count()
        with tracer.span("scoring.context", "candidates") as sp:
            ctx, sp.rows_out = tracer.keep(
                SC.context_word_vector(SC.attach_context(mentions, plain), word_emb)
            )
        with tracer.span("scoring.seeds", "candidates") as sp:
            seeds, doc_agg = SC.seed_pool_from_dictionary(mentions, ma, e_given_m, entity_emb)
            seeds, sp.rows_out = tracer.keep(seeds)
            doc_agg, _ = tracer.keep(doc_agg)
        with tracer.span("scoring.candidates", "candidates") as sp:
            cands, sp.rows_out = tracer.keep(SC.candidate_table(ctx, ma, e_given_m, entity_emb))
        with tracer.span("scoring.entity_ctx", "score") as sp:
            cands, sp.rows_out = tracer.keep(
                SC.context_entity_vector(
                    cands, seeds, doc_agg, empty_sim=1.0, entity_emb=entity_emb,
                    exclusion="none",
                )
            )
        with tracer.span("scoring.gate", "resolve") as sp:
            SC.score_has_prob(cands, lp, DEFAULT.predictor).write.mode("overwrite").parquet(
                self.out
            )
            sp.rows_out = len(_read_dir(self.out, ["doc_id"]))
        by = {s.name: s.rows_out for s in tracer.spans}
        return {
            "candidates_per_item": by["scoring.candidates"] / max(by["detect"], 1),
            "pass_ratio": by["scoring.gate"] / max(by["scoring.candidates"], 1),
        }


class RecordER:
    """``jobs/run_er.run_er_job``: sorted-neighbourhood blocking,
    supervised Fellegi-Sunter scoring, connected components and golden
    records, committed through a ``SnapshotStore``. Part of ``LakeER``."""
    KEY_EXPR = "substring(name, 10, 8)"
    FIELDS = ["name", "seg", "nation"]
    LABEL_EXPR = "id_a DIV 2 = id_b DIV 2"
    RULES = {"name": "min"}
    PINNED = {
        "n_records": 24000,
        "n_candidate_pairs": 71994,
        "n_match_edges": 19188,
        "n_clusters": 8903,
        "digest": "a53bb4fb900a4421793e48dffecb8f6b",
        "bcubed_f": 0.746116,
    }

    def prepare(self, work: str, seed: int) -> None:
        self.records = os.path.join(work, "records")
        self.output = os.path.join(work, "er_out")
        self.snapshots = os.path.join(work, "er_snap")
        inputs.write_seeded(inputs.er_records(), self.records, seed)
        self.metrics: dict = {}

    def load(self, spark) -> None:
        spark.read.parquet(self.records).count()

    def _args(self) -> argparse.Namespace:
        return argparse.Namespace(
            records=self.records,
            output=self.output,
            id_col="id",
            key_expr=self.KEY_EXPR,
            order_cols="name",
            fields=",".join(self.FIELDS),
            jw_fields=None,
            label_expr=self.LABEL_EXPR,
            window=4,
            threshold_micro=0,
            em_iterations=5,
            rules=",".join(f"{k}:{v}" for k, v in self.RULES.items()),
            rank_strategy="range",
            snapshots=self.snapshots,
            blocking="snm",
            repair_fields=None,
        )

    def run(self, spark) -> None:
        from run_er import run_er_job

        self.metrics = run_er_job(spark, self._args())

    def release(self, spark) -> None:
        for d in (self.output, self.snapshots):
            shutil.rmtree(d, ignore_errors=True)

    def check(self, spark) -> tuple[bool, dict]:
        cl = _read_dir(os.path.join(self.snapshots, "er_clusters", "data"), ["id", "cluster"])
        got = {k: self.metrics.get(k) for k in self.PINNED if k.startswith("n_")}
        got["digest"] = table_digest(cl)
        got["bcubed_f"] = round(bcubed_f(cl["cluster"].to_numpy(), cl["id"].to_numpy() // 2), 6)
        return got == self.PINNED, got

    def traced(self, spark, tracer) -> dict:
        """Mirror of ``run_er_job`` for this workload's arguments."""
        from pyspark.sql import functions as F

        from xlink_spark.operators.cluster import connected_components
        from xlink_spark.operators.linkage import (
            fs_score,
            golden_records,
            match_weights,
            sorted_neighborhood_pairs,
        )
        from xlink_spark.plans.snapshots import SnapshotStore

        fields, idc = self.FIELDS, "id"
        agree_cols = [f"agree_{f}" for f in fields]
        with tracer.span("linkage.prep", "prep") as sp:
            recs = spark.read.parquet(self.records).withColumn("_key", F.expr(self.KEY_EXPR))
            recs, sp.rows_out = tracer.keep(recs)
        with tracer.span("linkage.blocking", "candidates") as sp:
            pairs, sp.rows_out = tracer.keep(
                sorted_neighborhood_pairs(recs, "_key", ["name"], idc, window=4, strategy="range")
            )
        with tracer.span("linkage.weights", "model") as sp:
            ra = recs.select(F.col(idc).alias("id_a"), *[F.col(f).alias(f"_a_{f}") for f in fields])
            rb = recs.select(F.col(idc).alias("id_b"), *[F.col(f).alias(f"_b_{f}") for f in fields])
            vec = (
                pairs.join(ra, "id_a")
                .join(rb, "id_b")
                .select(
                    "id_a",
                    "id_b",
                    *[F.col(f"_a_{f}").eqNullSafe(F.col(f"_b_{f}")).alias(f"agree_{f}") for f in fields],
                )
                .withColumn("_is_match", F.expr(self.LABEL_EXPR))
            )
            vec, n_pairs = tracer.keep(vec)
            weights, sp.rows_out = tracer.keep(match_weights(vec, agree_cols, "_is_match"))
        with tracer.span("linkage.scoring", "score") as sp:
            scores, _ = tracer.keep(fs_score(vec, weights, agree_cols, ["id_a", "id_b"]))
            edges, sp.rows_out = tracer.keep(
                scores.filter(F.col("score_micro") >= F.lit(0)).select(
                    F.col("id_a").cast("long").alias("src"),
                    F.col("id_b").cast("long").alias("dst"),
                    "score_micro",
                )
            )
        with tracer.span("cluster", "resolve") as sp:
            comp, sp.rows_out = tracer.keep(connected_components(edges))
        with tracer.span("linkage.golden", "resolve") as sp:
            golden, sp.rows_out = tracer.keep(golden_records(recs.drop("_key"), comp, idc, self.RULES))
        with tracer.span("snapshots.commit.er", "resolve") as sp:
            weights.write.mode("overwrite").parquet(f"{self.output}/weights")
            scores.write.mode("overwrite").parquet(f"{self.output}/scores")
            asg = (
                recs.select(F.col(idc).cast("long").alias("id"))
                .join(comp.select(F.col("node").alias("id"), "component"), "id", "left")
                .select("id", F.coalesce("component", F.col("id")).alias("cluster"))
            )
            store = SnapshotStore(self.snapshots)
            m_cl = store.commit_table("er_clusters", asg)
            m_go = store.commit_table("er_golden", golden)
            sp.rows_out = m_cl["rows"] + m_go["rows"]
        self.metrics = {
            "n_records": m_cl["rows"],
            "n_candidate_pairs": n_pairs,
            "n_match_edges": edges.count(),
            "n_clusters": m_go["rows"],
        }
        return {
            "candidates_per_item": n_pairs / max(m_cl["rows"], 1),
            "pass_ratio": self.metrics["n_match_edges"] / max(n_pairs, 1),
        }


class Lake:
    """The lake's product path: ``pipeline.build_dictionary`` committed
    through a ``SnapshotStore`` over the history, then one
    ``incremental.link_increment`` per micro-batch of new documents, each
    starting after the previous one committed. Part of ``LakeER``."""

    LINK_COLS = ["doc_id", "start", "end", "entity_id", "believe"]
    MIN_F1 = 0.99
    PINNED = {
        "batches": 1,
        "link_rows": 92,
        "digest": "b6ce1e60efd13580418dce349c64c6b3",
        "link_f1": 1.0,
    }

    def prepare(self, work: str, seed: int) -> None:
        corpus = inputs.lake_corpus()
        docs = corpus.documents
        hist, new = docs.iloc[: inputs.LAKE_HISTORY], docs.iloc[inputs.LAKE_HISTORY :]
        self.dir = os.path.join(work, "lake")
        self.snapshots = os.path.join(work, "lake_snap")
        path = lambda name: os.path.join(self.dir, name)  # noqa: E731
        inputs.write_seeded(hist, path("history"), seed, "lake_docs")
        # the seed also chooses which new documents arrive in which batch
        order = np.random.RandomState(seed + 1).permutation(len(new))
        n = inputs.LAKE_BATCH_DOCS
        self.batches = []
        for b in range(inputs.LAKE_BATCHES):
            rows = new.iloc[np.sort(order[b * n : (b + 1) * n])]
            inputs.write_seeded(rows, path(f"batch_{b}"), seed + 2 + b, "lake_docs")
            self.batches.append(path(f"batch_{b}"))
        inputs.write_seeded(corpus.kb_entities, path("kb"), seed, "kb")
        inputs.write_seeded(corpus.word_embeddings, path("word_emb"), seed, "vectors")
        inputs.write_seeded(corpus.entity_embeddings, path("entity_emb"), seed, "vectors")
        gold = corpus.gold_mentions
        inputs.write_seeded(gold[gold["doc_id"].isin(new["doc_id"])], path("gold"), seed, "gold")
        self.phases: dict = {}

    def _read(self, spark, name: str):
        return spark.read.parquet(os.path.join(self.dir, name))

    def load(self, spark) -> None:
        self._read(spark, "history").count()

    def _plain(self, spark, path: str):
        from xlink_spark.operators.spans import plain_text

        return spark.read.parquet(path).select("doc_id", plain_text("spans").alias("text"))

    def run(self, spark) -> None:
        from xlink_spark.plans.incremental import link_increment
        from xlink_spark.plans.pipeline import build_dictionary
        from xlink_spark.plans.snapshots import SnapshotStore

        store = SnapshotStore(self.snapshots)
        wemb, eemb = self._read(spark, "word_emb"), self._read(spark, "entity_emb")
        t = time.time()
        build_dictionary(self._read(spark, "history"), self._read(spark, "kb"), eemb, store=store)
        self.phases = {"dict_build_s": time.time() - t, "batch_s": []}
        for b, path in enumerate(self.batches):
            t = time.time()
            link_increment(store, b, self._plain(spark, path), wemb, eemb)
            self.phases["batch_s"].append(time.time() - t)

    def release(self, spark) -> None:
        shutil.rmtree(self.snapshots, ignore_errors=True)

    def check(self, spark) -> tuple[bool, dict]:
        from xlink_spark.eval.f1 import linking_prf
        from xlink_spark.plans.incremental import all_links
        from xlink_spark.plans.snapshots import SnapshotStore

        store = SnapshotStore(self.snapshots)
        links = all_links(spark, store)
        rows = links.select(*self.LINK_COLS).toPandas()
        got = {
            "batches": len(store.iterations("links")),
            "link_rows": len(rows),
            "digest": table_digest(rows),
            "link_f1": round(linking_prf(self._read(spark, "gold"), links)["f1"], 6),
        }
        committed = sum(store.manifest("links", b)["rows"] for b in store.iterations("links"))
        ok = got == self.PINNED and committed == len(rows) and got["link_f1"] >= self.MIN_F1
        return ok, {**got, "committed_rows": committed}

    def traced(self, spark, tracer) -> None:
        """Mirror of ``run``, with ``link_increment`` split into its plan
        (``link_corpus`` and its eager actions) and its commit."""
        from xlink_spark.plans.incremental import load_dictionary
        from xlink_spark.plans.pipeline import build_dictionary, link_corpus
        from xlink_spark.plans.snapshots import SnapshotStore

        store = SnapshotStore(self.snapshots)
        with tracer.span("lake.prep", "prep") as sp:
            hist, sp.rows_out = tracer.keep(self._read(spark, "history"))
            kb, eemb = self._read(spark, "kb"), self._read(spark, "entity_emb")
            wemb = self._read(spark, "word_emb")
        with tracer.span("pipeline.build_dictionary", "model") as sp:
            build_dictionary(hist, kb, eemb, store=store)
            sp.rows_out = store.manifest("mention_anchors")["rows"]
        for b, path in enumerate(self.batches):
            plain = self._plain(spark, path)
            held: list = []
            with tracer.span("pipeline.link_corpus", "candidates") as sp:
                links = link_corpus(
                    plain, load_dictionary(spark, store), wemb, eemb, persisted_out=held
                )
                sp.rows_out = held[0].count()  # the persisted mentions
            with tracer.span("snapshots.commit", "score") as sp:
                try:
                    sp.rows_out = store.commit("links", b, links, metrics={"batch_id": b})["rows"]
                finally:
                    for df in held:
                        df.unpersist()


class LakeER:
    """Two batch jobs of one lake in one call: ``Lake`` and then
    ``RecordER``. Both commit every output through a ``SnapshotStore`` and
    run many small Spark jobs."""

    name = "lake_er"

    def __init__(self):
        self.lake, self.er = Lake(), RecordER()
        self.phases: dict = {}

    def prepare(self, work: str, seed: int) -> None:
        self.lake.prepare(work, seed)
        self.er.prepare(work, seed)

    def load(self, spark) -> None:
        self.lake.load(spark)
        self.er.load(spark)

    def run(self, spark) -> None:
        self.lake.run(spark)
        t = time.time()
        self.er.run(spark)
        self.phases = {**self.lake.phases, "er_s": time.time() - t}

    def release(self, spark) -> None:
        spark.catalog.clearCache()
        self.lake.release(spark)
        self.er.release(spark)

    def check(self, spark) -> tuple[bool, dict]:
        ok_lake, lake = self.lake.check(spark)
        ok_er, er = self.er.check(spark)
        return ok_lake and ok_er, {"lake": lake, "er": er}

    def traced(self, spark, tracer) -> dict:
        self.lake.traced(spark, tracer)
        return self.er.traced(spark, tracer)


WORKLOADS = {w.name: w for w in (Flagship, LakeER)}
