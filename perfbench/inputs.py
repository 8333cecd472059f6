"""Seeded inputs for the benchmark workloads, written as parquet.

Each workload's rows come from a FIXED base generator, so its output is
pinned once in ``workloads.py``. The ``--seed`` only permutes row order (and,
for the lake, which new documents form which micro-batch): the program sees a
different input per seed while every output check stays exact. The file
count is fixed, because the number of input splits moves the cold call's
time by several percent.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 20261017

# flagship corpus, shaped like the testdata corpus the flagship query was
# written for (sf0.01 has these sizes; sf0.1 has 10x the documents and 4x
# the embeddings): 30 words drawn uniformly, 10-100 tokens a document, 5% of
# documents a copy of an earlier one plus the token "dup", 20 sources
# assigned round-robin, 64-dim unit embeddings with 10 labels
FLAGSHIP_DOCS = 500
FLAGSHIP_EMBEDDINGS = 500
EMB_DIM = 64
N_SOURCES = 20
N_LABELS = 10
DUP_SHARE = 0.05
_WORDS = [
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
]
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]

# lake: an interleaved-span corpus from xlink_spark.fixtures.generate; the
# dictionary is built over the history, then the new documents arrive in
# LAKE_BATCHES micro-batches
LAKE_HISTORY = 150
LAKE_BATCHES = 1
LAKE_BATCH_DOCS = 25
LAKE_ENTITIES = 60

# record ER: base customers x replicas, each clean record plus a typo twin
ER_CUSTOMERS = 1500
ER_REPLICAS = 8
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]

_SPAN = pa.struct(
    [("kind", pa.string()), ("text", pa.string()), ("media_ref", pa.string()),
     ("offset", pa.int32())]
)
SCHEMAS = {
    "documents": pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                            ("lang", pa.string()), ("source", pa.string()),
                            ("n_chars", pa.int64())]),
    "embeddings": pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
                             ("label", pa.int32())]),
    "lake_docs": pa.schema([("doc_id", pa.string()), ("spans", pa.list_(_SPAN))]),
    "kb": pa.schema([("entity_id", pa.string()), ("title", pa.string()),
                     ("sub_title", pa.string()), ("full_title", pa.string()),
                     ("surface_norm", pa.string()), ("uris", pa.list_(pa.string())),
                     ("source", pa.string()), ("lang", pa.string())]),
    "vectors": pa.schema([("key", pa.string()), ("vec", pa.list_(pa.float32()))]),
    "gold": pa.schema([("doc_id", pa.string()), ("start", pa.int32()), ("end", pa.int32()),
                       ("surface", pa.string()), ("entity_id", pa.string())]),
}


def flagship_tables() -> tuple[pd.DataFrame, pd.DataFrame]:
    """(documents, embeddings) with the testdata schema and shape."""
    rng = np.random.RandomState(BASE_SEED)
    texts: list[str] = []
    for i in range(FLAGSHIP_DOCS):
        if i > 0 and rng.rand() < DUP_SHARE:
            texts.append(texts[rng.randint(i)] + " dup")
        else:
            texts.append(" ".join(rng.choice(_WORDS, size=rng.randint(10, 101))))
    docs = pd.DataFrame(
        {
            "doc_id": np.arange(FLAGSHIP_DOCS, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(_LANGS, size=FLAGSHIP_DOCS, p=_LANG_P),
            "source": [f"src{i % N_SOURCES}" for i in range(FLAGSHIP_DOCS)],
        }
    )
    docs["n_chars"] = docs["text"].str.len().astype(np.int64)
    vecs = rng.normal(size=(FLAGSHIP_EMBEDDINGS, EMB_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pd.DataFrame(
        {
            "vec_id": np.arange(FLAGSHIP_EMBEDDINGS, dtype=np.int64),
            "embedding": list(vecs),
            "label": rng.randint(0, N_LABELS, size=FLAGSHIP_EMBEDDINGS).astype(np.int32),
        }
    )
    return docs, emb


def lake_corpus():
    """The lake's corpus, KB, embeddings and gold mentions
    (a ``SyntheticCorpus``); documents ``d000000`` … are the history, in
    that order, followed by the new documents."""
    from xlink_spark.fixtures.generate import generate_corpus

    return generate_corpus(
        seed=BASE_SEED % 1000,
        n_docs=LAKE_HISTORY + LAKE_BATCHES * LAKE_BATCH_DOCS,
        n_entities=LAKE_ENTITIES,
    )


def er_records() -> pd.DataFrame:
    """(id, name, seg, nation) records; the label is ``id DIV 2``.

    Names embed the replica, so each replica sorts as one contiguous run
    and a twin stays a few ranks from its clean record. A twin bumps the
    name's last character, prefixes ``xx`` to the segment for about a third
    of records and shifts the nation for about half."""
    rng = np.random.RandomState(BASE_SEED + 1)
    c, m = ER_CUSTOMERS, ER_REPLICAS
    seg = rng.choice(_SEGMENTS, size=c)
    nation = rng.randint(0, 25, size=c).astype(np.int64)
    k = np.tile(np.arange(1, c + 1), m)
    r = np.repeat(np.arange(m), c)
    rid = (r * c + k).astype(np.int64)
    names = [f"Customer#{a:04d}{b:09d}" for a, b in zip(r, k)]
    clean = pd.DataFrame(
        {"id": rid * 2, "name": names, "seg": seg[k - 1], "nation": nation[k - 1]}
    )
    bump_seg = rng.randint(0, 3, size=len(rid)) == 0
    bump_nation = rng.randint(0, 2, size=len(rid)).astype(np.int64)
    twin = pd.DataFrame(
        {
            "id": rid * 2 + 1,
            "name": [n[:-1] + chr(ord(n[-1]) + 1) for n in names],
            "seg": np.where(bump_seg, np.char.add("xx", seg[k - 1]), seg[k - 1]),
            "nation": nation[k - 1] + bump_nation,
        }
    )
    return pd.concat([clean, twin], ignore_index=True)


N_FILES = 2


def write_seeded(df: pd.DataFrame, path: str, seed: int, schema: str | None = None) -> int:
    """Write ``df`` as a parquet directory of ``N_FILES`` files in a
    seed-chosen row order, with one of ``SCHEMAS`` when named. Returns the
    row count."""
    rng = np.random.RandomState(seed)
    order = rng.permutation(len(df))
    table = pa.Table.from_pandas(
        df.iloc[order], schema=SCHEMAS[schema] if schema else None, preserve_index=False
    )
    os.makedirs(path, exist_ok=True)
    bounds = np.linspace(0, len(df), N_FILES + 1).astype(int)
    for i in range(N_FILES):
        pq.write_table(
            table.slice(bounds[i], bounds[i + 1] - bounds[i]),
            os.path.join(path, f"part-{i:05d}.parquet"),
        )
    return len(df)
