"""Exact numpy answers for the vector operations, and the comparisons.

A result passes when its ids are a prefix of the oracle's ranked list
(score descending, id ascending) and every score agrees within ``TOL``.
Two ids may trade places only where their exact scores tie within ``TOL``:
float32 storage and a different summation order can flip such a pair.
"""

from __future__ import annotations

import datetime as dt

import numpy as np

TOL = 1e-5


class Snapshot:
    """Immutable column view of the rows live at one moment."""

    def __init__(self, rows: dict):
        ids = sorted(rows)
        self.ids = np.array(ids)
        self.pos = {i: n for n, i in enumerate(ids)}
        raw = np.stack([rows[i][0] for i in ids]).astype(np.float32)
        self.raw = raw.astype(np.float64)
        norms = np.linalg.norm(self.raw, axis=1, keepdims=True)
        # the table stores (v / |v|) as float32 and scores against that
        self.unit = (self.raw / norms).astype(np.float32).astype(np.float64)
        self.raw_unit = self.raw / norms
        metas = [rows[i][1] for i in ids]
        self.kind = np.array([m["kind"] for m in metas])
        self.score = np.array([m["score"] for m in metas], dtype=np.float64)
        self.ts = np.array([np.datetime64(m["ts"], "us") for m in metas])
        self.tags = [set(m["tags"]) for m in metas]

    def __len__(self) -> int:
        return len(self.ids)

    # ---- filters ----

    def _column(self, key: str):
        return {"kind": self.kind, "score": self.score, "ts": self.ts}[key]

    def _value(self, v):
        return np.datetime64(v, "us") if isinstance(v, dt.datetime) else v

    def _pred(self, key: str, spec) -> np.ndarray:
        if not isinstance(spec, dict):
            return self._column(key) == self._value(spec)
        out = np.ones(len(self), dtype=bool)
        for op, v in spec.items():
            if op == "$in":
                out &= np.array([v in t for t in self.tags])
                continue
            col, v = self._column(key), self._value(v)
            out &= {"$gt": col > v, "$gte": col >= v, "$lt": col < v,
                    "$lte": col <= v, "$ne": col != v}[op]
        return out

    def mask(self, metadata_filter=None, or_filters=None, exclude_filter=None) -> np.ndarray:
        m = np.ones(len(self), dtype=bool)
        for key, spec in (metadata_filter or {}).items():
            m &= self._pred(key, spec)
        if or_filters:
            o = np.zeros(len(self), dtype=bool)
            for d in or_filters:
                for key, spec in d.items():
                    o |= self._pred(key, spec)
            m &= o
        for key, spec in (exclude_filter or {}).items():
            m &= ~self._pred(key, spec)
        return m

    # ---- rankings ----

    def ranked(self, scores: np.ndarray, mask: np.ndarray, k: int):
        idx = np.flatnonzero(mask)
        order = np.lexsort((self.ids[idx], -scores[idx]))[:k]
        return [str(i) for i in self.ids[idx][order]], scores[idx][order]

    def search_scores(self, q) -> np.ndarray:
        q = np.asarray(q, dtype=np.float64)
        return self.unit @ (q / np.linalg.norm(q))

    def cosine_scores(self, q) -> np.ndarray:
        q = np.asarray(q, dtype=np.float64)
        return self.raw_unit @ (q / np.linalg.norm(q))


def autocut_keep(scores) -> int:
    """How many results the reference's autocut keeps: cut after the first
    largest relative drop, when that drop exceeds 0.2."""
    s = list(scores)
    if len(s) < 2:
        return len(s)
    drops = [(s[i - 1] - s[i]) / s[i - 1] for i in range(1, len(s))]
    top = max(drops)
    return drops.index(top) + 1 if top > 0.2 else len(s)


def compare_ranked(got_ids, got_scores, want_ids, want_scores, exact: np.ndarray,
                   pos: dict, allowed: np.ndarray) -> str | None:
    """``None`` when ``got`` is a valid prefix of the oracle ranking.

    ``exact`` holds the oracle score of every row, ``allowed`` the filter
    mask; ``pos`` maps an id to its row.
    """
    if len(got_ids) > len(want_ids):
        return f"{len(got_ids)} results, oracle has {len(want_ids)}"
    if len(set(got_ids)) != len(got_ids):
        return "duplicate ids"
    for i, (gid, gs) in enumerate(zip(got_ids, got_scores)):
        r = pos.get(gid)
        if r is None or not allowed[r]:
            return f"rank {i}: id {gid} is not a row that passes the filter"
        if abs(exact[r] - gs) > TOL:
            return f"rank {i}: id {gid} score {gs} vs exact {exact[r]}"
        if abs(want_scores[i] - gs) > TOL:
            return f"rank {i}: score {gs} vs oracle {want_scores[i]} ({want_ids[i]})"
        if gid != want_ids[i] and abs(exact[pos[want_ids[i]]] - exact[r]) > TOL:
            return f"rank {i}: id {gid} vs oracle {want_ids[i]}"
    return None
