"""The ``vector`` workload: one client in a closed loop (the next
operation starts when the previous one returned) over one seeded corpus.

- ``search``: embed a query text, a filtered ``find_most_similar`` with
  autocut over the saved table, ``hybrid_rerank_results`` on the hits.
- ``ann``: an ``ivf_search_indexed`` probe.
- ``batch``: ``find_most_similar_batch`` of several query vectors.
- ``dsearch``: the search request over the ``DurableVectorTable`` snapshot.
- ``write``: an upsert or a delete batch on the durable table (the store
  batch runs in the untimed warm-up).

After the window of a traced run, ``compact()`` and ``vacuum()`` run once,
timed as operations of their own.  Every result is kept and compared with the numpy
oracle after the window; the durable table's mutations are replayed on the
oracle, and its final contents must be the oracle's.
"""

from __future__ import annotations

import json
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import datagen
from oracle import Snapshot, autocut_keep, compare_ranked

# The largest corpus measured whose runs keep a round within 85% of its time
# budget; the scan is about a quarter of a search here (perfbench/README.md,
# "Corpus size").
ROWS = 30000
DIM = 64
K = 10
N_CENTROIDS = 16
NPROBE = 4
BATCH_QUERIES = 8
BATCH_SHAPE = 1  # every batch call filters with an AND of two keys
MUTATION_ROWS = 50
N_BUCKETS = 16
META_COLS = ["kind", "score", "ts", "tags", "text"]

# One pass over the cycle holds every operation kind; the window does not
# end before a whole pass has run, so every run times each kind.
CYCLE = ["search", "upsert", "search", "ann", "search", "batch", "search", "search",
         "dsearch", "search", "delete", "search", "batch"]
WARM_SEARCHES = 6


def _write_input(corpus: dict, path: str) -> None:
    """The generated corpus as the parquet file the program ingests."""
    m = corpus["metas"]
    pq.write_table(pa.table({
        "id": corpus["ids"],
        "embedding": pa.array(list(corpus["vecs"]), type=pa.list_(pa.float32())),
        "kind": [x["kind"] for x in m],
        "score": [x["score"] for x in m],
        "ts": pa.array([x["ts"] for x in m], type=pa.timestamp("us", tz="UTC")),
        "tags": [x["tags"] for x in m],
        "text": corpus["texts"],
    }), path)


def _rows(corpus: dict) -> dict:
    return {
        i: (v, {**m, "text": t})
        for i, v, m, t in zip(corpus["ids"], corpus["vecs"], corpus["metas"], corpus["texts"])
    }


def _user_bytes(row_id: str, meta: dict | None) -> int:
    """What a user submits for one row: the id, 4 bytes per dimension and
    the metadata as JSON (an id alone for a delete)."""
    if meta is None:
        return len(row_id)
    return len(row_id) + 4 * DIM + len(json.dumps(meta, default=str, sort_keys=True))


def _disk(root: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            out[p] = os.path.getsize(p)
    return out


class SearchClient:
    """One search request: embed, filtered exact top-k with autocut, rerank."""

    def __init__(self, embedder):
        from minivectordb_spark import hybrid_rerank_results

        self.embedder = embedder
        self.rerank = hybrid_rerank_results
        self.sent = 0

    def request(self, rng):
        """The next query text and filter; filter shapes take turns."""
        self.sent += 1
        return datagen.words(rng, 3, 9), datagen.filter_shape(rng, self.sent % datagen.N_SHAPES)

    def run(self, table, text: str, filt: dict):
        qv = self.embedder.embed(text)
        ids, scores, metas = table.find_most_similar(qv.tolist(), k=K, autocut=True, **filt)
        sentences, combined = self.rerank([m["text"] for m in metas], scores, text, k=len(ids))
        return {"q": qv, "filt": filt, "ids": ids, "scores": scores, "metas": metas,
                "sentences": sentences, "combined": combined}


def check_search(out: dict, snap: Snapshot) -> tuple[str | None, float]:
    """(problem or None, autocut kept ratio)."""
    q = np.asarray(out["q"], dtype=np.float64)
    if not np.all(np.isfinite(q)) or abs(np.linalg.norm(q) - 1.0) > 1e-4:
        return "embedder returned a non-unit vector", 0.0
    allowed = snap.mask(**out["filt"])
    exact = snap.search_scores(q)
    want_ids, want_scores = snap.ranked(exact, allowed, K)
    keep = autocut_keep(list(want_scores))
    if len(out["ids"]) != keep:
        return f"autocut kept {len(out['ids'])}, oracle keeps {keep}", 0.0
    problem = compare_ranked(out["ids"], out["scores"], want_ids, want_scores,
                             exact, snap.pos, allowed)
    if problem:
        return problem, 0.0
    for gid, meta in zip(out["ids"], out["metas"]):
        if meta.get("kind") != snap.kind[snap.pos[gid]]:
            return f"metadata of {gid} differs", 0.0
    texts = [m["text"] for m in out["metas"]]
    if sorted(out["sentences"]) != sorted(texts):
        return "rerank did not return a permutation of the hits", 0.0
    if any(a < b for a, b in zip(out["combined"], out["combined"][1:])):
        return "rerank scores are not descending", 0.0
    return None, (len(out["ids"]) / len(want_ids)) if want_ids else 1.0


def _ivf_oracle(snap: Snapshot, n_centroids: int):
    """Centroids are the lowest-id rows (``seed_centroids``); each row goes
    to the centroid of highest cosine, lowest id on ties."""
    cents = snap.raw_unit[:n_centroids]
    assign = np.argmax(snap.raw_unit @ cents.T, axis=1)
    return cents, assign


def check_ann(out: dict, snap: Snapshot, cents, assign) -> tuple[str | None, float]:
    q = np.asarray(out["q"], dtype=np.float64)
    exact = np.round(snap.cosine_scores(q), 6)
    qc = cents @ (q / np.linalg.norm(q))
    probes = np.lexsort((np.arange(len(cents)), -qc))[:NPROBE]
    allowed = np.isin(assign, probes)
    want_ids, want_scores = snap.ranked(exact, allowed, K)
    got = [f"v{int(i):07d}" for i in out["ids"]]
    problem = None
    if len(got) != len(want_ids):
        problem = f"{len(got)} results, oracle has {len(want_ids)}"
    else:
        problem = compare_ranked(got, out["scores"], want_ids, want_scores,
                                 exact, snap.pos, allowed)
    true_ids, _ = snap.ranked(exact, np.ones(len(snap), dtype=bool), K)
    recall = len(set(got) & set(true_ids)) / K
    return problem, recall


def check_batch(out: dict, snap: Snapshot) -> str | None:
    allowed = snap.mask(**out["filt"])
    for qi, (q, (ids, scores, _)) in enumerate(zip(out["qs"], out["results"])):
        exact = snap.cosine_scores(q)
        want_ids, want_scores = snap.ranked(exact, allowed, K)
        if len(ids) != len(want_ids):
            return f"query {qi}: {len(ids)} results, oracle has {len(want_ids)}"
        problem = compare_ranked(ids, scores, want_ids, want_scores, exact, snap.pos, allowed)
        if problem:
            return f"query {qi}: {problem}"
    return None


class Mutations:
    """Seeded store / upsert / delete batches, replayed on the oracle."""

    def __init__(self, rng, rows: dict, centers):
        self.rng, self.rows, self.centers = rng, rows, centers
        self.next_id = 0

    def _new_id(self) -> str:
        self.next_id += 1
        return f"m{self.next_id:07d}"

    def _live(self, n: int) -> list[str]:
        live = sorted(self.rows)
        return [live[int(i)] for i in self.rng.choice(len(live), n, replace=False)]

    def _new_row(self):
        v = datagen.query_vector(self.rng, self.centers)
        meta = {**datagen.metadata(self.rng), "text": datagen.words(self.rng, 6, 24)}
        return v, meta

    def draw(self, kind: str) -> tuple[list[str], list]:
        """Ids and new rows of one ``kind`` batch (no rows for a delete)."""
        if kind == "store":
            ids = [self._new_id() for _ in range(MUTATION_ROWS)]
        elif kind == "upsert":
            half = MUTATION_ROWS // 2
            ids = self._live(half) + [self._new_id() for _ in range(MUTATION_ROWS - half)]
        else:
            return self._live(MUTATION_ROWS), []
        return ids, [self._new_row() for _ in ids]

    def apply(self, kind: str, ids: list[str], rows: list) -> None:
        if kind == "delete":
            for i in ids:
                del self.rows[i]
        else:
            for i, r in zip(ids, rows):
                self.rows[i] = r


def run_vector(bench) -> None:
    from minivectordb_spark import HashProjectionEmbedder, VectorTable
    from minivectordb_spark.operators.ann import ivf_search_indexed, save_ivf_index, seed_centroids

    spark, rng = bench.spark, bench.rng
    corpus = datagen.vector_corpus(bench.seed, ROWS, DIM)
    snap = Snapshot(_rows(corpus))
    muts = Mutations(rng, _rows(corpus), corpus["centers"])
    live_at = {}  # snapshots of the live rows, built after the window
    bench.note("corpus generated")
    src = os.path.join(bench.tmp, "input.parquet")
    _write_input(corpus, src)
    table_dir = os.path.join(bench.tmp, "table")
    VectorTable.from_dataframe(spark.read.parquet(src), meta_cols=META_COLS).save(table_dir)
    table = VectorTable.load(spark, table_dir)
    bench.note("corpus ingested")

    ivf_dir = os.path.join(bench.tmp, "ivf")
    t0 = time.time()
    vec_df = spark.read.parquet(table_dir).selectExpr(
        "cast(substring(id, 2) as bigint) as vec_id", "embedding")
    save_ivf_index(vec_df, seed_centroids(vec_df, N_CENTROIDS), ivf_dir)
    bench.extra["ann.build_s"] = time.time() - t0
    cents, assign = _ivf_oracle(snap, N_CENTROIDS)
    bench.note("IVF index built")

    root = os.path.join(bench.tmp, "durable")
    state = {"d": table.save_durable(root, n_buckets=N_BUCKETS)}
    bench.note("durable table created")
    seen = _disk(root)
    written = {"bytes": 0, "user": 0}
    client = SearchClient(HashProjectionEmbedder(dim=DIM))

    def ann(q):
        rows = ivf_search_indexed(spark, ivf_dir, q.tolist(), k=K, nprobe=NPROBE).collect()
        return {"q": q, "ids": [r["vec_id"] for r in rows], "scores": [r["score"] for r in rows]}

    def batch(qs, filt):
        res = table.find_most_similar_batch([q.tolist() for q in qs], k=K, **filt)
        return {"qs": qs, "filt": filt, "results": res}

    def dsearch(text, filt):
        return client.run(VectorTable(spark, state["d"].to_df(), dim=DIM), text, filt)

    def write(kind, ids, rows):
        d = state["d"]
        if kind == "delete":
            state["d"] = d.delete_embeddings_batch(ids)
            return
        new = VectorTable.empty(spark).store_embeddings_batch(
            ids, [v.tolist() for v, _ in rows], [m for _, m in rows]).df
        if kind == "store":
            state["d"] = d.store_embeddings_batch(new)
        else:
            state["d"] = d.upsert_embeddings_batch(new)

    def account(ids, rows) -> int:
        """Bytes the last operation wrote under the durable table's root;
        adds them, and the user bytes of ``ids``, to the write-amplification
        totals."""
        now = _disk(root)
        new = sum(s for p, s in now.items() if p not in seen)
        seen.clear()
        seen.update(now)
        written["bytes"] += new
        metas = [m for _, m in rows] if rows else [None] * len(ids)
        written["user"] += sum(_user_bytes(i, m) for i, m in zip(ids, metas))
        return new

    def next_query():
        return datagen.query_vector(rng, corpus["centers"])

    # warm-up: each operation, untimed; the store is replayed on the oracle
    for _ in range(WARM_SEARCHES):
        client.run(table, *client.request(rng))
    ann(next_query())
    batch([next_query() for _ in range(2)], {})
    dsearch(*client.request(rng))
    ids, rows = muts.draw("store")
    write("store", ids, rows)
    muts.apply("store", ids, rows)
    account(ids, rows)
    bench.note("warm-up operations done")
    bench.start_window()

    step, version = 0, 0
    while not (bench.window_over() and step >= len(CYCLE)):
        what = CYCLE[step % len(CYCLE)]
        step += 1
        if what == "search":
            args = client.request(rng)
            with bench.op("search") as rec:
                rec.out = client.run(table, *args)
        elif what == "ann":
            q = next_query()
            with bench.op("ann") as rec:
                rec.out = ann(q)
        elif what == "batch":
            qs = [next_query() for _ in range(BATCH_QUERIES)]
            filt = datagen.filter_shape(rng, BATCH_SHAPE)
            with bench.op("batch") as rec:
                rec.out = batch(qs, filt)
            rec.units = BATCH_QUERIES
        elif what == "dsearch":
            args = client.request(rng)
            with bench.op("dsearch") as rec:
                rec.out = dsearch(*args)
                if version not in live_at:
                    live_at[version] = dict(muts.rows)
                rec.out["version"] = version
        else:
            ids, rows = muts.draw(what)
            before = state["d"].manifest
            with bench.op("write") as rec:
                rec.name = what
                write(what, ids, rows)
            if rec.error:
                break  # the table and the oracle no longer agree on what is live
            muts.apply(what, ids, rows)
            version += 1
            rec.out = {
                "buckets_touched": sum(1 for k, b in state["d"].manifest["buckets"].items()
                                       if b != before["buckets"][k]),
                "bytes_written": account(ids, rows),
            }
    bench.end_window()

    # the layout the timed searches read, before maintenance
    live_user = sum(_user_bytes(i, m) for i, (_, m) in muts.rows.items())
    bench.extra.update({
        "durable.space_amp": sum(_disk(root).values()) / max(1, live_user),
        "durable.files_live": len(state["d"].to_df().inputFiles()),
    })
    if bench.tracer is not None:
        # maintenance feeds per-layer metrics only; untraced runs skip it
        # to keep a round of runs within its time budget
        with bench.op("compact"):
            state["d"] = state["d"].compact()
        with bench.op("vacuum"):
            state["d"].vacuum(grace_seconds=0)
        account([], [])

    snapshots = {v: Snapshot(rows) for v, rows in live_at.items()}
    kept, recall = [], []
    for rec in bench.ops:
        if rec.error:
            continue
        if rec.kind == "search":
            rec.problem, ratio = check_search(rec.out, snap)
            kept.append(ratio)
        elif rec.kind == "dsearch":
            rec.problem, _ = check_search(rec.out, snapshots[rec.out["version"]])
        elif rec.kind == "ann":
            rec.problem, r = check_ann(rec.out, snap, cents, assign)
            recall.append(r)
        elif rec.kind == "batch":
            rec.problem = check_batch(rec.out, snap)
    # the durable table's final contents are the oracle's
    final = {r["id"] for r in state["d"].to_df().select("id").collect()}
    if final != set(muts.rows) or state["d"].count() != len(muts.rows):
        bench.fail_state(f"durable table holds {len(final)} ids, oracle {len(muts.rows)}")
    bench.extra.update({
        "autocut.kept_ratio": float(np.mean(kept)) if kept else 0.0,
        "ann.recall_at_k": float(np.mean(recall)) if recall else 0.0,
        "durable.write_amp": written["bytes"] / max(1, written["user"]),
    })


