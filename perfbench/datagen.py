"""Seeded inputs for the benchmark: a clustered vector corpus with typed
metadata, mutation batches, query texts, and the star-schema tables the
graded pipeline queries read.

Everything is drawn from one ``numpy.random.Generator`` per call, so the
same seed gives byte-identical inputs.  The program under test only ever
sees the generated values.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.15, 0.14, 0.14, 0.13]
TAGS = ["red", "green", "blue", "gold", "grey", "teal", "pink", "lime"]
KINDS = ["news", "blog", "wiki", "code", "mail"]
EPOCH = dt.datetime(2024, 1, 1)


def words(rng: np.random.Generator, lo: int, hi: int) -> str:
    """A text of ``lo`` to ``hi - 1`` words from the fixed vocabulary."""
    n = int(rng.integers(lo, hi))
    return " ".join(WORDS[i] for i in rng.integers(0, len(WORDS), n))


# ---------------------------------------------------------------------------
# vector corpus
# ---------------------------------------------------------------------------


def vector_corpus(seed: int, n: int, dim: int, n_clusters: int = 32) -> dict:
    """Clustered vectors plus metadata of every typed kind.

    Returns parallel lists ``ids``, ``vecs`` (float32, n x dim), ``metas``
    (string ``kind``, number ``score``, timestamp ``ts``, array ``tags``)
    and ``texts`` (what rerank compares a query text against), and the
    cluster ``centers`` query vectors are drawn around.
    """
    rng = np.random.default_rng(seed)
    centers = rng.standard_normal((n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    lab = rng.integers(0, n_clusters, n)
    vecs = centers[lab] + 0.35 * rng.standard_normal((n, dim)) / np.sqrt(dim)
    vecs = vecs.astype(np.float32)
    ids = [f"v{i:07d}" for i in range(n)]
    metas = [metadata(rng) for _ in range(n)]
    texts = [words(rng, 6, 24) for _ in range(n)]
    return {"ids": ids, "vecs": vecs, "metas": metas, "texts": texts,
            "centers": centers.astype(np.float32)}


def metadata(rng: np.random.Generator) -> dict:
    n_tags = int(rng.integers(1, 4))
    return {
        "kind": KINDS[int(rng.integers(0, len(KINDS)))],
        "score": float(rng.integers(0, 1000)),
        "ts": EPOCH + dt.timedelta(seconds=int(rng.integers(0, 90 * 86400))),
        "tags": sorted({TAGS[int(i)] for i in rng.integers(0, len(TAGS), n_tags)}),
    }


N_SHAPES = 6


def filter_shape(rng: np.random.Generator, shape: int) -> dict:
    """Kwargs for ``find_most_similar``: shape 0..5 is none / AND / OR /
    EXCLUDE / ``$in`` / range, its operands drawn from ``rng``.  Callers
    cycle through the shapes, so every seed runs the same mix."""
    kind = KINDS[int(rng.integers(0, len(KINDS)))]
    lo = float(rng.integers(0, 700))
    if shape == 0:
        return {}
    if shape == 1:
        return {"metadata_filter": {"kind": kind, "score": {"$gte": lo}}}
    if shape == 2:
        other = KINDS[(KINDS.index(kind) + 1) % len(KINDS)]
        return {"or_filters": [{"kind": kind}, {"kind": other}]}
    if shape == 3:
        return {"exclude_filter": {"kind": kind}}
    if shape == 4:
        return {"metadata_filter": {"tags": {"$in": TAGS[int(rng.integers(0, len(TAGS)))]}}}
    t0 = EPOCH + dt.timedelta(days=int(rng.integers(0, 60)))
    return {"metadata_filter": {
        "ts": {"$gte": t0, "$lt": t0 + dt.timedelta(days=30)},
        "score": {"$gt": lo, "$lte": lo + 300.0},
    }}


def query_vector(rng: np.random.Generator, centers: np.ndarray) -> np.ndarray:
    c = centers[int(rng.integers(0, len(centers)))]
    q = c + 0.5 * rng.standard_normal(c.shape) / np.sqrt(len(c))
    return q.astype(np.float32)


# ---------------------------------------------------------------------------
# pipeline tables (schema of the graded queries' star schema + corpus)
# ---------------------------------------------------------------------------


def pipeline_tables(seed: int, out_dir: str) -> None:
    """Write region..embeddings as parquet under ``out_dir``: 60k lineitem
    rows, 10k events, 500 documents and 500 embeddings, the schema and
    value shapes the graded queries and their DuckDB twins are written
    against."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    def put(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    n_cust, n_supp, n_part = 1500, 100, 2000
    n_ord, n_li = 15000, 60000
    n_ev, n_users = 10000, 150
    n_docs = n_vec = 500
    day = np.timedelta64(1, "D")

    put("region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    put("nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    put("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": [["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                          "MACHINERY"][i] for i in rng.integers(0, 5, n_cust)],
    })
    put("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    adj = ["small", "red", "blue", "hot", "old", "large", "new", "cold"]
    noun = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
    put("part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [["ECONOMY", "SMALL", "MEDIUM", "LARGE", "STANDARD",
                    "PROMO"][i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    d0 = np.datetime64("1995-01-01")
    put("orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": [["F", "O", "P"][i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": pa.array((d0 + rng.integers(0, 2404, n_ord) * day)
                                .astype("datetime64[us]")),
        "o_orderpriority": [["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                             "5-LOW"][i] for i in rng.integers(0, 5, n_ord)],
    })
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    put("lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) * 0.01, 2),
        "l_returnflag": [["A", "N", "R"][i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [["F", "O"][i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array((d0 + rng.integers(1, 2500, n_li) * day)
                               .astype("datetime64[us]")),
    })
    gaps = rng.exponential(259.0, n_ev)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(
        (gaps * 1e6).astype(np.int64)).astype("timedelta64[us]")
    put("events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": [["click", "error", "purchase", "signup", "view"][i]
                       for i in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2) + 0.01,
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_ev)],
    })
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(words(rng, 8, 90))
    put("documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(len(LANGS), n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    centers = rng.standard_normal((10, 64))
    lab = rng.integers(0, 10, n_vec)
    emb = centers[lab] * 0.15 + rng.standard_normal((n_vec, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    put("embeddings", {
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": pa.array(lab.astype(np.int32)),
    })
