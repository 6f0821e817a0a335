"""The ``pipeline`` workload: graded ``__spark_entry__.queries()`` over
seeded star-schema tables.

Set-up runs every query of the benchmark's subset once, so the timed
window sees compiled plans, started Python workers and the indexes the
skip-if-fresh lifecycles build on a first run.  The timed window then
runs whole passes over the subset, each in a seed-permuted order, until
it is over and at least ``MIN_PASSES`` have run: a pass that has started
always completes, so every query is timed the same number of times.  A timed query builds its plan and collects the rows
(``toPandas``).  After the window every collected output is compared with
the query's DuckDB twin from ``oracle_sql()`` through
``tools/check_oracle.compare``.
"""

from __future__ import annotations

import gc
import os
import shutil
import sys

import datagen

INDEX_KINDS = ("ivf", "ddidx", "ndidx")

# At least one graded query per operator group (layers.GROUP_OF_LAYER);
# int8_search runs package code in the executors' Python workers.  Ten of
# the 50, so that set-up, several timed passes and the DuckDB checks fit in
# one run of the benchmark's time budget.
QUERIES = [
    "triangle_counts",
    "dedup_exact",
    "record_linkage",
    "text_stats",
    "bm25_search",
    "ivf_search_indexed",
    "int8_search",
    "events_mad",
    "events_sessions_native",
    "tpch_q1",
]
# Queries that ran more than 5 Spark jobs in the baseline trace; frozen, so
# a change that fuses jobs does not move a query between the two metrics.
ITERATIVE = ["triangle_counts", "bm25_search", "ivf_search_indexed", "events_mad"]
# The first timed pass can run slower than the rest; with three passes the
# median of each query's walls never rests on one pass alone.
MIN_PASSES = 3


def _load_compare(root: str):
    """``tools/check_oracle`` without letting its import-time path edit
    change where later imports resolve."""
    saved = list(sys.path)
    sys.path.insert(0, os.path.join(root, "tools"))
    try:
        import check_oracle
    finally:
        sys.path[:] = saved
    return check_oracle


def run_pipeline(bench) -> None:
    import __spark_entry__ as entry

    spark, rng = bench.spark, bench.rng
    data = os.path.join(bench.tmp, "pipeline_data")
    datagen.pipeline_tables(bench.seed, data)
    # the skip-if-fresh index lifecycles keep their index in a fixed dir
    # per dataset: start every run without one
    for kind in INDEX_KINDS:
        shutil.rmtree(entry._fixed_index_dir(kind, data), ignore_errors=True)

    registry = entry.queries()
    missing = [q for q in QUERIES if q not in registry]
    if missing:
        raise SystemExit(f"graded queries not found: {missing}")

    bench.note("tables generated")
    for name in QUERIES:
        try:
            registry[name](spark, data).toPandas()
        except Exception:  # the timed runs record it
            pass
    bench.note("warm-up pass done")
    bench.start_window()

    passes = 0
    while not (bench.window_over() and passes >= MIN_PASSES):
        passes += 1
        _release(spark)
        for name in [QUERIES[i] for i in rng.permutation(len(QUERIES))]:
            with bench.op("query", name) as rec:
                with bench.phase(rec, f"{name}/build"):
                    df = registry[name](spark, data)
                with bench.phase(rec, f"{name}/sink"):
                    rec.out = df.toPandas()
    bench.end_window()

    _check(bench.root, entry, data, [r for r in bench.ops if not r.error])
    bench.note("outputs compared with the DuckDB twins")


def _release(spark) -> None:
    """Let the previous pass's cached blocks go before the next pass (the
    hygiene ``bench.py`` applies between queries, once per pass here)."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def _check(root: str, entry, data: str, ops) -> None:
    """Set ``problem`` on every operation whose rows differ from the
    query's DuckDB twin."""
    import duckdb

    check_oracle = _load_compare(root)
    oracles = entry.oracle_sql()
    con = duckdb.connect()
    try:
        for t in check_oracle.TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
        want = {}
        for rec in ops:
            if rec.name not in oracles:
                rec.problem = "no DuckDB twin"
                continue
            if rec.name not in want:
                want[rec.name] = con.sql(oracles[rec.name]).df()
            found = check_oracle.compare(rec.name, rec.out, want[rec.name])
            if found:
                rec.problem = "; ".join(found)[:300]
    finally:
        con.close()
