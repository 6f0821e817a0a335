"""Per-layer metrics of a traced run, from spans and the Spark event log.

Every traced run prints the same metric names (``names``); a layer a
workload does not exercise reads 0.  Per-operation figures are means over
the traced operations of that kind; ``spark.<group>.*`` figures are per
pass over the pipeline subset.
"""

from __future__ import annotations

import statistics

from pipeline import QUERIES
from eventlog import (
    charge_jobs,
    children_of,
    intersect_length,
    self_intervals,
    subtree,
)

PIPELINE_GROUPS = ["dedup", "joins", "graph", "text", "search", "ann", "events", "streaming", "sql"]

GROUP_OF_LAYER = {
    "operators.dedup": "dedup",
    "operators.setsim": "joins",
    "operators.linkage": "joins",
    "operators.graph": "graph",
    "operators.text": "text",
    "operators.prep": "text",
    "operators.kernels": "text",
    "operators.bm25": "search",
    "operators.hybrid": "search",
    "scoring": "search",
    "operators.ann": "ann",
    "operators.ranges": "events",
    "operators.temporal": "events",
    "operators.anomaly": "events",
    "operators.sketches": "events",
    "streaming": "streaming",
}

# name -> (unit, better)
FIXED = {
    "session.start_s": ("s", "lower"),
    "driver.peak_rss_mb": ("MB", "lower"),
    "embedder.ms": ("ms", "lower"),
    "filters.compile_ms": ("ms", "lower"),
    "autocut.ms": ("ms", "lower"),
    "autocut.kept_ratio": ("ratio", "higher"),
    "rerank.ms": ("ms", "lower"),
    "table.search_jobs": ("count", "lower"),
    "table.search_driver_ms": ("ms", "lower"),
    "scoring.search_exec_ms": ("ms", "lower"),
    "resid.search_ms": ("ms", "lower"),
    "batch.jobs": ("count", "lower"),
    "batch.exec_cpu_ms": ("ms", "lower"),
    "batch.shuffle_bytes": ("bytes", "lower"),
    "resid.batch_ms": ("ms", "lower"),
    "ann.jobs": ("count", "lower"),
    "ann.driver_ms": ("ms", "lower"),
    "ann.recall_at_k": ("ratio", "higher"),
    "ann.build_s": ("s", "lower"),
    "ann.probe_p50_ms": ("ms", "lower"),
    "resid.ann_ms": ("ms", "lower"),
    "durable.write_jobs": ("count", "lower"),
    "durable.write_driver_ms": ("ms", "lower"),
    "durable.bytes_written": ("bytes", "lower"),
    "durable.buckets_touched": ("count", "lower"),
    "durable.compact_ms": ("ms", "lower"),
    "durable.vacuum_ms": ("ms", "lower"),
    "durable.files_live": ("count", "lower"),
    "durable.to_df_ms": ("ms", "lower"),
    "durable.search_p50_ms": ("ms", "lower"),
    "durable.write_amp": ("ratio", "lower"),
    "durable.space_amp": ("ratio", "lower"),
    "resid.write_ms": ("ms", "lower"),
    "spark.tasks": ("count", "lower"),
    "spark.gc_ms": ("ms", "lower"),
    "spark.spill_bytes": ("bytes", "lower"),
    "spark.python_ms": ("ms", "lower"),
    "spark.unlabelled_jobs": ("count", "lower"),
    "trace.overhead_pct": ("%", "lower"),
}
GROUP_METRICS = [("jobs", "count"), ("driver_ms", "ms"), ("exec_cpu_ms", "ms"), ("shuffle_bytes", "bytes")]


def names() -> dict[str, tuple[str, str]]:
    """Every per-layer metric: name -> (unit, which direction is better)."""
    out = dict(FIXED)
    for g in PIPELINE_GROUPS:
        for m, unit in GROUP_METRICS:
            out[f"spark.{g}.{m}"] = (unit, "lower")
    for q in QUERIES:
        out[f"q.{q}.wall_s"] = ("s", "lower")
        out[f"q.{q}.resid_s"] = ("s", "lower")
    return out


def _mean(xs) -> float:
    xs = list(xs)
    return float(statistics.fmean(xs)) if xs else 0.0


class Attribution:
    """Spans, jobs and the charge of each job to a span."""

    def __init__(self, spans, jobs):
        self.kids = children_of(spans)
        self.by_sid = {s.sid: s for s in spans}
        self.jobs = jobs
        self.charged = charge_jobs(jobs, spans)
        self.job_iv = [j.interval for j in jobs]

    def tree(self, rec):
        return [s for root in rec.roots for s in subtree(root, self.kids)]

    def op_jobs(self, rec):
        return [j for s in self.tree(rec) for j in self.charged.get(s.sid, [])]

    def uncovered(self, intervals) -> float:
        """Time in ``intervals`` during which no job ran."""
        total = sum(b - a for a, b in intervals)
        return total - intersect_length(intervals, self.job_iv)

    def layer_self(self, rec) -> dict[str, float]:
        out: dict[str, float] = {}
        for s in self.tree(rec):
            if s.layer != "op":
                out[s.layer] = out.get(s.layer, 0.0) + sum(
                    b - a for a, b in self_intervals(s, self.kids))
        return out

    def residual(self, rec) -> float:
        """Time inside the operation in neither a package call nor a job."""
        return sum(self.uncovered(self_intervals(root, self.kids)) for root in rec.roots)

    def group_of(self, span) -> str:
        while span is not None and span.layer != "op":
            g = GROUP_OF_LAYER.get(span.layer)
            if g:
                return g
            span = self.by_sid.get(span.parent)
        return "sql"


def compute(ops, spans, jobs, labels: set, extra: dict,
            window: tuple[float, float]) -> dict[str, float]:
    out = {n: 0.0 for n in names()}
    out.update({k: float(v) for k, v in extra.items() if k in out})
    att = Attribution(spans, jobs)
    traced = [r for r in ops if r.roots and not r.error]

    def of(kind):
        return [r for r in traced if r.kind == kind]

    searches = of("search")
    if searches:
        selfs = [att.layer_self(r) for r in searches]
        for metric, layer in (("embedder.ms", "embedder"), ("filters.compile_ms", "filters"),
                              ("autocut.ms", "autocut"), ("rerank.ms", "rerank")):
            out[metric] = 1000 * _mean(s.get(layer, 0.0) for s in selfs)
        out["table.search_jobs"] = _mean(len(att.op_jobs(r)) for r in searches)
        out["table.search_driver_ms"] = 1000 * _mean(
            sum(att.uncovered([(s.t0, s.t1)]) for s in att.tree(r)
                if s.name == "table.VectorTable.find_most_similar")
            for r in searches)
        out["scoring.search_exec_ms"] = _mean(
            sum(j.metrics.run_ms for j in att.op_jobs(r)) for r in searches)
        out["resid.search_ms"] = 1000 * _mean(att.residual(r) for r in searches)
    if of("dsearch"):
        out["durable.to_df_ms"] = 1000 * _mean(
            att.layer_self(r).get("durable", 0.0) for r in of("dsearch"))
    if of("batch"):
        rs = of("batch")
        out["batch.jobs"] = _mean(len(att.op_jobs(r)) for r in rs)
        out["batch.exec_cpu_ms"] = _mean(sum(j.metrics.cpu_ms for j in att.op_jobs(r)) for r in rs)
        out["batch.shuffle_bytes"] = _mean(
            sum(j.metrics.shuffle_write_bytes for j in att.op_jobs(r)) for r in rs)
        out["resid.batch_ms"] = 1000 * _mean(att.residual(r) for r in rs)
    if of("ann"):
        rs = of("ann")
        out["ann.jobs"] = _mean(len(att.op_jobs(r)) for r in rs)
        out["ann.driver_ms"] = 1000 * _mean(att.uncovered([(r.t0, r.t1)]) for r in rs)
        out["resid.ann_ms"] = 1000 * _mean(att.residual(r) for r in rs)
    if of("write"):
        rs = of("write")
        out["durable.write_jobs"] = _mean(len(att.op_jobs(r)) for r in rs)
        out["durable.write_driver_ms"] = 1000 * _mean(att.uncovered([(r.t0, r.t1)]) for r in rs)
        out["resid.write_ms"] = 1000 * _mean(att.residual(r) for r in rs)
    writes = [r for r in ops if r.kind == "write" and not r.error]
    if writes:
        out["durable.bytes_written"] = _mean(r.out["bytes_written"] for r in writes)
        out["durable.buckets_touched"] = _mean(r.out["buckets_touched"] for r in writes)
    for metric, kind, stat in (("durable.compact_ms", "compact", _mean),
                               ("durable.vacuum_ms", "vacuum", _mean),
                               ("ann.probe_p50_ms", "ann", statistics.median),
                               ("durable.search_p50_ms", "dsearch", statistics.median)):
        rs = [r.wall for r in ops if r.kind == kind and not r.error]
        if rs:
            out[metric] = 1000 * stat(rs)

    if of("query"):
        _pipeline(att, of("query"), ops, out)

    lo, hi = window
    in_window = [j for j in jobs if lo <= j.submit <= hi]
    out["spark.tasks"] = sum(j.metrics.tasks for j in in_window)
    out["spark.gc_ms"] = sum(j.metrics.gc_ms for j in in_window)
    out["spark.spill_bytes"] = sum(j.metrics.spill_bytes for j in in_window)
    out["spark.python_ms"] = sum(j.metrics.python_ms for j in in_window)
    out["spark.unlabelled_jobs"] = sum(1 for j in in_window if j.description not in labels)
    return out


def _pipeline(att: Attribution, traced, ops, out: dict) -> None:
    """Group figures per pass, residual and wall per query.

    A job launched inside an operator's call is charged to that
    operator's group.  The jobs of the query's own code, which runs the
    final plan, go to the query's group: the group whose operators
    account for most of its package self time, or ``sql`` when it calls
    none.  Driver time is the groups' package self time that no job
    covers; the query's own uncovered time is its residual.
    """
    per_query: dict[str, list[dict]] = {}
    for r in traced:
        acc = {f"{g}.{m}": 0.0 for g in PIPELINE_GROUPS for m, _ in GROUP_METRICS}
        share: dict[str, float] = {}
        for s in att.tree(r):
            if s.layer != "op":
                g = att.group_of(s)
                share[g] = share.get(g, 0.0) + sum(b - a for a, b in self_intervals(s, att.kids))
        own = max((g for g in share if g != "sql"), key=share.get, default="sql")
        for s in att.tree(r):
            g = own if s.layer == "op" else att.group_of(s)
            if s.layer != "op":
                acc[f"{g}.driver_ms"] += 1000 * att.uncovered(self_intervals(s, att.kids))
            for j in att.charged.get(s.sid, []):
                acc[f"{g}.jobs"] += 1
                acc[f"{g}.exec_cpu_ms"] += j.metrics.cpu_ms
                acc[f"{g}.shuffle_bytes"] += j.metrics.shuffle_write_bytes
        acc["resid_s"] = att.residual(r)
        per_query.setdefault(r.name, []).append(acc)
    for name, runs in per_query.items():
        for key in runs[0]:
            v = _mean(run[key] for run in runs)
            if key == "resid_s":
                out[f"q.{name}.resid_s"] = v
            else:
                out[f"spark.{key}"] += v
    walls: dict[str, list[float]] = {}
    for r in ops:
        if r.kind == "query" and not r.error:
            walls.setdefault(r.name, []).append(r.wall)
    for name, ws in walls.items():
        out[f"q.{name}.wall_s"] = statistics.median(ws)


def breakdown(ops, spans, jobs) -> list[str]:
    """One line per traced operation kind or pipeline query: mean wall,
    jobs, package self time by layer, job-covered and residual time of the
    operation's own code.  The four time columns add up to the wall."""
    att = Attribution(spans, jobs)
    groups: dict[str, list] = {}
    for r in ops:
        if r.roots and not r.error:
            groups.setdefault(r.name, []).append(r)
    lines = []
    for name, rs in sorted(groups.items()):
        selfs = [att.layer_self(r) for r in rs]
        layer_tot: dict[str, float] = {}
        for s in selfs:
            for k, v in s.items():
                layer_tot[k] = layer_tot.get(k, 0.0) + v / len(rs)
        resid = _mean(att.residual(r) for r in rs)
        own = _mean(sum(sum(b - a for a, b in self_intervals(root, att.kids))
                        for root in r.roots) for r in rs)
        top = sorted(layer_tot.items(), key=lambda kv: -kv[1])[:4]
        lines.append(
            f"{name:28s} n={len(rs)} wall={_mean(r.wall for r in rs):7.3f}s "
            f"jobs={_mean(len(att.op_jobs(r)) for r in rs):5.1f} "
            f"layers={sum(layer_tot.values()):6.3f}s spark={own - resid:6.3f}s "
            f"resid={resid:6.3f}s  " + " ".join(f"{k}={v:.3f}" for k, v in top))
    return lines
