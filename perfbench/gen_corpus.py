"""Seeded generator of the corpus tables the corpus_ops queries read.

The shapes follow the engine's driver corpus: `documents` are
bag-of-words texts over a 31-word vocabulary with a language and a
source, `embeddings` are 64-dimensional float vectors spread evenly over
ten labelled centres, the same for every seed, `lineitem` is a TPC-H-like order/part table (its
order-sharing parts make the graph queries' co-occurrence graph) and
`customer` has `Customer#<9 digits>` names (the fuzzy join's input).
One parquet file per table, as `graft.Tables.load` expects.
"""
import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a the key agg row scan slow fast table value part hash merge batch spark "
         "line sort window order data column join small customer query big stream "
         "group filter vector").split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.42, 0.145, 0.145, 0.145, 0.145]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


def generate(out_dir, seed, docs, vectors, orders, parts, customers):
    """Write documents, embeddings, lineitem and customer under out_dir;
    returns each table's row count."""
    rng = np.random.default_rng(seed)

    lens = rng.integers(10, 101, size=docs)
    words = rng.integers(0, len(VOCAB), size=int(lens.sum()))
    texts, at = [], 0
    for n in lens:
        texts.append(" ".join(VOCAB[w] for w in words[at:at + n]))
        at += n
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, size=docs, p=LANG_P), pa.string()),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, size=docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), f"{out_dir}/documents.parquet")

    # the vectors do not follow the seed: their near-duplicate graph sits
    # at the 0.4 cosine threshold, so each draw gave the semantic dedup's
    # label propagation another round count (7 to 12 rounds, 87 to 147
    # jobs) and its wall moved 1.4x from seed to seed
    erng = np.random.default_rng(0)
    centres = erng.normal(0.0, 0.1, size=(10, 64))
    labels = erng.permutation(np.arange(vectors) % 10)
    emb = np.clip(centres[labels] + erng.normal(0.0, 0.08, size=(vectors, 64)), -0.6, 0.6)
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(vectors), pa.int64()),
        "embedding": pa.array(list(emb.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }), f"{out_dir}/embeddings.parquet")

    per_order = rng.integers(1, 8, size=orders)
    n = int(per_order.sum())
    orderkey = np.repeat(np.arange(orders), per_order)
    linenumber = np.concatenate([np.arange(1, k + 1) for k in per_order])
    qty = rng.integers(1, 51, size=n).astype(np.float64)
    base = datetime.datetime(1992, 1, 1)
    ship = [base + datetime.timedelta(days=int(d)) for d in rng.integers(0, 3650, size=n)]
    pq.write_table(pa.table({
        "l_orderkey": pa.array(orderkey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, parts, size=n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, max(1, parts // 20), size=n), pa.int64()),
        "l_linenumber": pa.array(linenumber, pa.int32()),
        "l_quantity": pa.array(qty, pa.float64()),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 3000, size=n), 2), pa.float64()),
        "l_discount": pa.array(rng.integers(0, 11, size=n) / 100.0, pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, size=n) / 100.0, pa.float64()),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], size=n), pa.string()),
        "l_linestatus": pa.array(rng.choice(["O", "F"], size=n), pa.string()),
        "l_shipdate": pa.array(ship, pa.timestamp("us")),
    }), f"{out_dir}/lineitem.parquet")

    pq.write_table(pa.table({
        "c_custkey": pa.array(np.arange(customers), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(customers)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, size=customers), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, size=customers), 2), pa.float64()),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, size=customers), pa.string()),
    }), f"{out_dir}/customer.parquet")

    return {"documents": docs, "embeddings": vectors, "lineitem": n, "customer": customers}
