"""VectorTable mutation / durability / lookup contracts (FIXTURES.md F7;
reference tests/test_vector_database.py:177-380, :505-547,
tests/test_sharded_vector_database.py:613-693)."""

import calendar
import datetime as dt
import math
import time

import pytest
from pyspark.sql import functions as F

from minivectordb_spark.table import VECTOR_SCHEMA, VectorTable, _record_rows


def test_store_and_count(spark):
    t = VectorTable.empty(spark).store_embeddings_batch(
        [1, 2, 3], [[1.0, 0.0], [0.0, 1.0], [1.0, 1.0]], [{"a": "x"}, {}, {}]
    )
    assert t.count() == 3


def test_duplicate_id_raises(spark):
    t = VectorTable.empty(spark).store_embedding("x", [1.0, 2.0])
    with pytest.raises(ValueError, match="already exists"):
        t.store_embedding("x", [3.0, 4.0])


def test_batch_duplicate_vs_existing_raises(spark):
    t = VectorTable.empty(spark).store_embedding("x", [1.0, 2.0])
    with pytest.raises(ValueError, match="already exists"):
        t.store_embeddings_batch(["y", "x"], [[1.0, 1.0], [2.0, 2.0]])


def test_batch_in_batch_duplicate_raises(spark):
    with pytest.raises(ValueError, match="already exists"):
        VectorTable.empty(spark).store_embeddings_batch(["a", "a"], [[1.0], [2.0]])


def test_metadata_length_contract(spark):
    # 0 < |metadata| < |ids| raises (vector_database.py:98-99)
    with pytest.raises(ValueError, match="Metadata"):
        VectorTable.empty(spark).store_embeddings_batch(
            ["a", "b"], [[1.0], [2.0]], [{"k": "v"}]
        )


def test_dim_mismatch_raises(spark):
    t = VectorTable.empty(spark).store_embedding("a", [1.0, 2.0])
    with pytest.raises(ValueError, match="dimension"):
        t.store_embedding("b", [1.0, 2.0, 3.0])


def test_delete_missing_raises(spark):
    t = VectorTable.empty(spark).store_embedding("a", [1.0, 2.0])
    with pytest.raises(ValueError, match="does not exist"):
        t.delete_embedding("nope")


def test_delete_batch_contracts(spark):
    t = VectorTable.empty(spark).store_embeddings_batch(
        ["a", "b", "c"], [[1.0], [2.0], [3.0]]
    )
    with pytest.raises(ValueError):
        t.delete_embeddings_batch(None)
    with pytest.raises(ValueError):
        t.delete_embeddings_batch([])
    with pytest.raises(ValueError, match="does not exist"):
        t.delete_embeddings_batch(["a", "zzz"])
    # scalar accepted (sharded_vector_database.py:206-241)
    assert t.delete_embeddings_batch("a").count() == 2
    assert t.delete_embeddings_batch(["a", "c"]).count() == 1


def test_delete_then_filter_finds_nothing(spark):
    t = VectorTable.empty(spark).store_embeddings_batch(
        ["a", "b"], [[1.0, 0.0], [0.0, 1.0]], [{"type": "t1"}, {"type": "t2"}]
    )
    t2 = t.delete_embedding("a")
    ids, _, _ = t2.find_most_similar([1.0, 1.0], metadata_filter={"type": "t1"}, k=5)
    assert ids == []


def test_get_vector_roundtrip_raw_not_normalized(spark):
    # get_vector returns the RAW stored vector — reference quirk §2.1
    # (in-place faiss.normalize_L2 mutation) deliberately not replicated
    t = VectorTable.empty(spark).store_embedding("a", [3.0, 4.0])
    t.find_most_similar([1.0, 0.0], k=1)  # a search must not mutate storage
    v = t.get_vector("a")
    assert v == [3.0, 4.0]
    with pytest.raises(ValueError, match="does not exist"):
        t.get_vector("missing")


def test_persist_roundtrip(spark, tmp_path):
    path = str(tmp_path / "vt.parquet")
    t = VectorTable.empty(spark).store_embeddings_batch(
        ["a", "b", "c"],
        [[1.0, 0.0], [0.0, 1.0], [1.0, 1.0]],
        [{"type": "x"}, {"type": "y"}, {"type": "x"}],
    )
    t.save(path, max_records_per_file=2)
    t2 = VectorTable.load(spark, path)
    assert t2.count() == 3
    ids, _, _ = t2.find_most_similar([1.0, 0.5], metadata_filter={"type": "x"}, k=10)
    assert sorted(ids) == ["a", "c"]


def test_mixed_workload_count_invariant(spark):
    # batch analogue of the thread stress (tests/test_multithreaded_operations.py:59-62)
    t = VectorTable.empty(spark).store_embeddings_batch(
        [f"i{j}" for j in range(200)], [[float(j), 1.0] for j in range(200)]
    )
    t = t.store_embeddings_batch([f"x{j}" for j in range(50)], [[1.0, float(j)] for j in range(50)])
    t = t.delete_embeddings_batch([f"i{j}" for j in range(70)])
    assert t.count() == 180


def test_search_scores_sorted_desc_and_cosine_exact(spark):
    t = VectorTable.empty(spark).store_embeddings_batch(
        ["a", "b", "c"], [[1.0, 0.0], [0.0, 1.0], [1.0, 1.0]]
    )
    ids, scores, _ = t.find_most_similar([1.0, 0.0], k=3)
    assert ids[0] == "a"
    assert scores == sorted(scores, reverse=True)
    assert scores[0] == pytest.approx(1.0)
    assert scores[1] == pytest.approx(1.0 / math.sqrt(2.0))
    assert scores[2] == pytest.approx(0.0)


def test_empty_table_search(spark):
    assert VectorTable.empty(spark).find_most_similar([1.0, 2.0], k=5) == ([], [], [])


def test_distances_variant(spark):
    # usearch-variant contract: distances = 1 - sim, ascending
    t = VectorTable.empty(spark).store_embeddings_batch(
        ["a", "b", "c"], [[1.0, 0.0], [0.0, 1.0], [1.0, 1.0]]
    )
    ids, dists, _ = t.find_most_similar([1.0, 0.0], k=3, distances=True)
    assert ids[0] == "a"
    assert dists == sorted(dists)
    assert dists[0] == pytest.approx(0.0)
    # autocut with distances: an exact match (distance 0) followed by any
    # nonzero distance is an infinite relative rise -> tail cut
    t2 = VectorTable.empty(spark).store_embeddings_batch(
        ["t", "u", "v"], [[1.0, 0.0], [0.99, 0.141], [0.5, 0.866]]
    )
    ids2, d2, _ = t2.find_most_similar([1.0, 0.0], k=3, distances=True, autocut=True)
    assert ids2 == ["t"]


def test_from_dataframe_bulk_ingest(spark, sf_dir):
    import datetime as dt
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(100)
    from minivectordb_spark.embedder import embed_column

    src = embed_column(docs, "text").withColumn(
        "flagged", F.col("n_chars") > 200
    )
    t = VectorTable.from_dataframe(
        src, id_col="doc_id", emb_col="embedding",
        meta_cols=["lang", "n_chars", "flagged"],
    )
    assert t.count() == 100
    assert t.dim == 64
    # typed-map routing: string / numeric / boolean keys all filterable
    ids, scores, metas = t.find_most_similar(
        t.get_vector(t.df.select("id").orderBy("id").limit(1).collect()[0]["id"]),
        metadata_filter={"n_chars": {"$gte": 200}, "flagged": True},
        k=5,
    )
    assert len(ids) > 0
    assert all(m["n_chars"] >= 200 and m["flagged"] is True for m in metas)
    # norm column correct
    row = t.df.select("norm", "embedding").limit(1).collect()[0]
    import math
    assert row["norm"] == pytest.approx(
        math.sqrt(sum(x * x for x in row["embedding"])), rel=1e-6
    )


def test_from_dataframe_validation(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 2.0]), (1, [3.0, 4.0])], ["id", "embedding"]
    )
    with pytest.raises(ValueError, match="already exists"):
        VectorTable.from_dataframe(df)
    df2 = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [3.0, 4.0, 5.0])], ["id", "embedding"]
    )
    with pytest.raises(ValueError, match="dimension"):
        VectorTable.from_dataframe(df2)


def test_find_most_similar_batch(spark):
    t = VectorTable.empty(spark).store_embeddings_batch(
        ["a", "b", "c", "d"],
        [[1.0, 0.0], [0.0, 1.0], [0.9, 0.1], [0.1, 0.9]],
        [{"g": "x"}, {"g": "x"}, {"g": "y"}, {"g": "y"}],
    )
    res = t.find_most_similar_batch([[1.0, 0.0], [0.0, 1.0]], k=2)
    assert len(res) == 2
    assert res[0][0][0] == "a" and res[1][0][0] == "b"
    # filtered batch
    res2 = t.find_most_similar_batch([[1.0, 0.0]], metadata_filter={"g": "y"}, k=4)
    assert res2[0][0] == ["c", "d"]
    # single search agrees with batch
    ids_single, sc_single, _ = t.find_most_similar([1.0, 0.0], k=2)
    assert res[0][0] == ids_single


def test_save_cluster_by_roundtrip(spark, tmp_path):
    path = str(tmp_path / "clustered")
    t = VectorTable.empty(spark).store_embeddings_batch(
        [f"r{i}" for i in range(40)],
        [[float(i), 1.0] for i in range(40)],
        [{"type": f"t{i % 4}"} for i in range(40)],
    )
    t.save(path, cluster_by=["meta_str['type']"], max_records_per_file=10)
    t2 = VectorTable.load(spark, path)
    assert t2.count() == 40
    ids, _, _ = t2.find_most_similar([1.0, 0.0], metadata_filter={"type": "t2"}, k=50)
    assert len(ids) == 10


@pytest.fixture()
def non_utc_driver_tz(monkeypatch):
    """The driver process runs in a zone that is not UTC (and differs from
    the Spark session's), so naive datetimes show which zone they are read
    in."""
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    yield
    monkeypatch.undo()
    time.tzset()


@pytest.mark.parametrize("arrow_enabled", ["true", "false"])
def test_store_batch_is_local_and_matches_list_path(spark, non_utc_driver_tz, arrow_enabled):
    """The insert batch plans as a LocalTableScan under either Arrow
    setting and holds exactly the rows ``createDataFrame(list)`` built
    before: every metadata kind, None metadata, naive and aware datetimes.
    A naive datetime keeps its meaning: the driver's local time."""
    naive = dt.datetime(2020, 1, 1, 12, 0)
    aware = dt.datetime(2020, 1, 1, 12, 0, tzinfo=dt.timezone.utc)
    ids = ["a", "b", "c", "d"]
    vecs = [[1.0, 0.0, 0.5], [0.0, 0.0, 0.0], [0.1, 0.2, 0.3], [3.0, 4.0, 0.0]]
    metas = [
        {"s": "x", "n": 3, "f": 0.25, "b": True, "arr": [1, "q"], "t": naive,
         "ta": aware, "d": dt.date(2021, 5, 6), "skip": None},
        None,
        {},
        {"s": "y", "t": naive},
    ]
    prev = spark.conf.get("spark.sql.execution.arrow.pyspark.enabled")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", arrow_enabled)
    try:
        t = VectorTable.empty(spark).store_embeddings_batch(ids, vecs, metas)
        plan = t.df._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan
        list_df = spark.createDataFrame(
            _record_rows(ids, vecs, metas), VECTOR_SCHEMA
        )
        assert t.df.schema == list_df.schema
        assert t.df.collect() == list_df.collect()
        got = t.df.filter(F.col("id") == "a").select(
            F.unix_seconds(F.col("meta_ts")["t"]).alias("t"),
            F.unix_seconds(F.col("meta_ts")["ta"]).alias("ta"),
        ).first()
    finally:
        spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", prev)
    # noon in New York is 17:00 UTC; the aware value is its own instant
    assert got["t"] == calendar.timegm((2020, 1, 1, 17, 0, 0))
    assert got["ta"] == calendar.timegm((2020, 1, 1, 12, 0, 0))


def test_store_into_empty_table_runs_no_jobs(spark, count_jobs):
    """Inserting into VectorTable.empty() needs no job: the empty table is
    known empty and the batch is a driver-local relation."""
    t, jobs = count_jobs(
        "empty-store",
        lambda: VectorTable.empty(spark).store_embeddings_batch(
            ["a", "b"], [[1.0, 0.0], [0.0, 1.0]], [{"k": 1}, {"k": "v"}]
        ),
    )
    assert jobs == 0
    assert t.count() == 2 and t.dim == 2


_T0 = dt.datetime(2024, 1, 1)
_FILTER_SHAPES = {
    "none": {},
    "and": {"metadata_filter": {"kind": "a", "score": {"$gte": 10}}},
    "or": {"or_filters": [{"kind": "a"}, {"kind": "b"}]},
    "exclude": {"exclude_filter": {"kind": "a"}},
    "in": {"metadata_filter": {"tags": {"$in": "y"}}},
    "range": {"metadata_filter": {
        "ts": {"$gte": _T0, "$lt": _T0 + dt.timedelta(days=30)},
        "score": {"$gt": 5, "$lte": 30},
    }},
}
_BOGUS = {"k": {"$bogus": 1}}


@pytest.fixture(scope="module")
def loaded_table(spark, tmp_path_factory):
    """A table read back from parquet, so nothing about it is known
    without a job."""
    path = str(tmp_path_factory.mktemp("loaded") / "vt")
    n = 40
    VectorTable.empty(spark).store_embeddings_batch(
        [f"r{i}" for i in range(n)],
        [[float((i * 7 + j) % 11) - 5.0 for j in range(4)] for i in range(n)],
        [{"kind": "abc"[i % 3], "score": i, "ts": _T0 + dt.timedelta(days=i),
          "tags": ["x", "y"][: 1 + i % 2]} for i in range(n)],
    ).save(path)
    return VectorTable.load(spark, path)


@pytest.mark.parametrize("shape", list(_FILTER_SHAPES))
def test_search_runs_one_job(loaded_table, count_jobs, shape):
    """A search over a loaded table is one job, the scan into its top-k,
    under every filter shape (3 while a ``limit(1).count()`` emptiness
    probe ran first)."""
    (ids, _, _), jobs = count_jobs(
        f"search-{shape}",
        lambda: loaded_table.find_most_similar([1.0, -2.0, 0.5, 3.0], k=5, **_FILTER_SHAPES[shape]),
    )
    assert ids
    assert jobs == 1


def test_search_batch_runs_no_probe(loaded_table, count_jobs):
    """A batch search over a loaded table runs at most 4 jobs (6 while an
    emptiness probe ran first)."""
    res, jobs = count_jobs(
        "search-batch",
        lambda: loaded_table.find_most_similar_batch(
            [[1.0, -2.0, 0.5, 3.0], [0.0, 1.0, 0.0, 1.0]], k=5, metadata_filter={"kind": "a"}),
    )
    assert [len(ids) for ids, _, _ in res] == [5, 5]
    assert jobs <= 4


def test_store_into_loaded_table_runs_no_probe(loaded_table, count_jobs):
    """An insert into a loaded, non-empty table runs at most 3 jobs, its
    uniqueness semi-join (5 while an emptiness probe ran first)."""
    t, jobs = count_jobs(
        "store-loaded",
        lambda: loaded_table.store_embeddings_batch(["n0", "n1"], [[1.0, 0.0, 0.0, 0.0]] * 2),
    )
    assert jobs <= 3
    assert t.count() == 42


@pytest.fixture(scope="module")
def empty_tables(spark, tmp_path_factory):
    """Empty tables that are not ``VectorTable.empty()``: one saved and
    loaded, one over a durable table whose rows were all deleted."""
    root = tmp_path_factory.mktemp("empty")
    VectorTable.empty(spark).save(str(root / "saved"))
    two = VectorTable.empty(spark).store_embeddings_batch(
        ["a", "b"], [[1.0, 0.0], [0.0, 1.0]], [{"k": "x"}, {"k": "y"}])
    emptied = two.save_durable(str(root / "durable"), n_buckets=2).delete_embeddings_batch(["a", "b"])
    return {
        "saved": VectorTable.load(spark, str(root / "saved")),
        "emptied": VectorTable(spark, emptied.to_df(), dim=2),
    }


@pytest.mark.parametrize("flt", [None, _BOGUS], ids=["no-filter", "malformed-filter"])
@pytest.mark.parametrize("which", ["saved", "emptied"])
def test_empty_table_answers_before_filters(empty_tables, which, flt):
    """An empty table answers ``([], [], [])`` from search and batch, even
    for a filter that does not compile: the reference checks emptiness
    before it parses filters (vector_database.py:470-471)."""
    t = empty_tables[which]
    assert t.find_most_similar([1.0, 0.0], metadata_filter=flt, k=5) == ([], [], [])
    assert t.find_most_similar_batch([[1.0, 0.0], [0.0, 1.0]], metadata_filter=flt, k=5) == [
        ([], [], []), ([], [], [])]


def test_malformed_filter_raises_on_rows(loaded_table):
    with pytest.raises(ValueError, match="Invalid operator"):
        loaded_table.find_most_similar([1.0, 0.0, 0.0, 0.0], metadata_filter=_BOGUS)
    with pytest.raises(ValueError, match="Invalid operator"):
        loaded_table.find_most_similar_batch([[1.0, 0.0, 0.0, 0.0]], metadata_filter=_BOGUS)
