"""Parquet tables for the query_mix workload.

Writes the four tables the mix queries read (lineitem, events, documents,
embeddings) with the column names, types and value shapes of the
repository's TPC-H-like test data, at scale factor 0.01 and a fixed data
seed. The tables do not depend on the workload seed: the seed permutes
the query order instead, so every run measures the same query inputs.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SCALE = 0.01
DATA_SEED = 4242
VOCAB = ("a agg batch big column customer data dup fast filter group hash "
         "join key line merge order part query row scan slow small sort "
         "spark stream table the value vector window").split()
LANGS = ["en"] * 4 + ["de", "es", "fr", "zh"]
ETYPES = ["click", "error", "purchase", "signup", "view"]


def _write(out, name, **cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def generate(out):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(DATA_SEED)
    n_li, n_ord = int(6_000_000 * SCALE), int(1_500_000 * SCALE)
    n_part, n_supp = int(200_000 * SCALE), int(10_000 * SCALE)
    n_ev, n_doc, n_emb = int(1_000_000 * SCALE), int(50_000 * SCALE), int(20_000 * SCALE)
    day = np.timedelta64(86400, "s")
    epoch95 = np.datetime64("1995-01-01", "s")

    orderkey = np.sort(rng.integers(0, n_ord, n_li)).astype(np.int64)
    _write(out, "lineitem",
           l_orderkey=orderkey,
           l_partkey=rng.integers(0, n_part, n_li).astype(np.int64),
           l_suppkey=rng.integers(0, n_supp, n_li).astype(np.int64),
           l_linenumber=(rng.integers(0, 7, n_li) + 1).astype(np.int32),
           l_quantity=rng.integers(1, 51, n_li).astype(np.float64),
           l_extendedprice=np.round(rng.uniform(900, 105000, n_li), 2),
           l_discount=np.round(rng.integers(0, 11, n_li) * 0.01, 2),
           l_tax=np.round(rng.integers(0, 9, n_li) * 0.01, 2),
           l_returnflag=np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
           l_linestatus=np.array(["F", "O"])[rng.integers(0, 2, n_li)],
           l_shipdate=(epoch95 + rng.integers(1, 2500, n_li) * day).astype("datetime64[us]"))

    ts = np.sort(np.datetime64("2024-01-01", "s")
                 + rng.integers(11, 30 * 86400, n_ev) * np.timedelta64(1, "s"))
    _write(out, "events",
           event_id=np.arange(n_ev, dtype=np.int64),
           ts=ts.astype("datetime64[us]"),
           user_id=rng.integers(0, int(15_000 * SCALE), n_ev).astype(np.int64),
           event_type=np.array(ETYPES)[rng.integers(0, 5, n_ev)],
           value=np.round(rng.exponential(80, n_ev), 2),
           props=[f'{{"k": {v}}}' for v in rng.integers(0, 100, n_ev)])

    # 10-100 words from a 31-word vocabulary, with a tail of exact
    # duplicates so the dedup queries have something to remove
    lens = rng.integers(10, 101, n_doc)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    starts = np.concatenate([[0], np.cumsum(lens)])
    texts = [" ".join(VOCAB[w] for w in words[starts[i]:starts[i + 1]]) for i in range(n_doc)]
    for i in range(n_doc // 500):
        texts[(i * 997 + 1) % n_doc] = texts[(i * 499) % n_doc]
    _write(out, "documents",
           doc_id=np.arange(n_doc, dtype=np.int64),
           text=texts,
           lang=np.array(LANGS)[rng.integers(0, len(LANGS), n_doc)],
           source=[f"src{i}" for i in rng.integers(0, 20, n_doc)],
           n_chars=np.array([len(t) for t in texts], dtype=np.int64))

    # unit vectors clustered around ten label centroids
    labels = rng.integers(0, 10, n_emb).astype(np.int32)
    centers = rng.normal(0, 1, (10, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    vecs = centers[labels] * 2.0 + rng.normal(0, 1, (n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out, "embeddings",
           vec_id=np.arange(n_emb, dtype=np.int64),
           embedding=pa.array(list(vecs.astype(np.float32)), type=pa.list_(pa.float32())),
           label=labels)
