"""Delta-backend smoke tests for TableStore (sources/merge.py).

This container has no delta-spark, so every ``use_delta`` branch is
normally dead code here; these tests make the 100 TB path executable
wherever delta IS installed (`pip install delta-spark` on a real
cluster) instead of permanently untested. They skip cleanly when the
import is absent — see README "Delta execution path".

The assertions mirror tests/test_storage.py's parquet-fallback
contract: both backends must present identical MERGE semantics
(whenMatchedUpdateAll gated on null-safe change + insertAll).
"""

from __future__ import annotations

import pytest

delta = pytest.importorskip("delta")

from pyspark.sql import SparkSession  # noqa: E402

from fabric_claims_spark.sources.merge import TableStore  # noqa: E402


@pytest.fixture(scope="module")
def delta_spark():
    """A session wired for Delta (the shared conftest session has no
    delta catalog extensions, so build a dedicated one)."""
    builder = (
        SparkSession.builder.master("local[4]")
        .appName("delta-path-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config(
            "spark.sql.extensions",
            "io.delta.sql.DeltaSparkSessionExtension",
        )
        .config(
            "spark.sql.catalog.spark_catalog",
            "org.apache.spark.sql.delta.catalog.DeltaCatalog",
        )
    )
    spark = delta.configure_spark_with_delta_pip(builder).getOrCreate()
    yield spark
    spark.stop()


@pytest.fixture()
def store(delta_spark, tmp_path):
    s = TableStore(delta_spark, str(tmp_path / "lake"), prefer_delta=True)
    assert s.use_delta, "delta importable but store did not select it"
    return s


def _df(spark, rows):
    return spark.createDataFrame(rows, "k string, v int, note string")


def test_delta_overwrite_read_roundtrip(delta_spark, store):
    store.overwrite("t", _df(delta_spark, [("a", 1, "x"), ("b", 2, "y")]))
    assert store.exists("t")
    assert sorted(r["k"] for r in store.read("t").collect()) == ["a", "b"]
    # overwrite with a changed schema must succeed (overwriteSchema)
    wider = delta_spark.createDataFrame(
        [("a", 1, "x", 9.0)], "k string, v int, note string, extra double"
    )
    store.overwrite("t", wider)
    assert "extra" in store.read("t").columns


def test_delta_append_accumulates(delta_spark, store):
    store.append("t", _df(delta_spark, [("a", 1, "x")]))
    store.append("t", _df(delta_spark, [("b", 2, "y")]))
    assert store.read("t").count() == 2


def test_delta_merge_insert_update_and_noop(delta_spark, store):
    base = _df(delta_spark, [("a", 1, "x"), ("b", 2, "y")])
    stats = store.merge("t", base, keys=["k"])
    assert (stats.inserted, stats.updated) == (2, 0)

    # one changed row, one identical (no-op update eliminated), one new
    batch = _df(delta_spark, [("a", 1, "x"), ("b", 99, "y"), ("c", 3, "z")])
    stats = store.merge("t", batch, keys=["k"])
    assert (stats.inserted, stats.updated) == (1, 1)
    got = {r["k"]: r["v"] for r in store.read("t").collect()}
    assert got == {"a": 1, "b": 99, "c": 3}


def test_delta_merge_compare_cols_ignores_stamp_churn(delta_spark, store):
    base = _df(delta_spark, [("a", 1, "stamp1")])
    store.merge("t", base, keys=["k"], compare_cols=["v"])
    # note (a lineage-stamp stand-in) changes, v doesn't → no update
    stats = store.merge(
        "t", _df(delta_spark, [("a", 1, "stamp2")]), keys=["k"], compare_cols=["v"]
    )
    assert (stats.inserted, stats.updated) == (0, 0)
    assert store.read("t").collect()[0]["note"] == "stamp1"


def test_delta_merge_null_safe_change_detection(delta_spark, store):
    store.merge("t", _df(delta_spark, [("a", 1, None)]), keys=["k"])
    # NULL -> NULL must be "unchanged" (ISNULL-style gate), not an update
    stats = store.merge("t", _df(delta_spark, [("a", 1, None)]), keys=["k"])
    assert (stats.inserted, stats.updated) == (0, 0)
    # NULL -> value is a change
    stats = store.merge("t", _df(delta_spark, [("a", 1, "now-set")]), keys=["k"])
    assert (stats.inserted, stats.updated) == (0, 1)


def test_delta_serving_lsh_apply_delete_and_pairs(delta_spark, store, tmp_path):
    """The serving-index commit protocol on Delta: its commit tables
    move through ``read_local``/``overwrite_local``, which go through
    Spark on this backend. The FIRST apply must succeed on an empty
    store, and after a second batch and one delete the pair table
    must equal the same lifecycle on the parquet store."""
    from fabric_claims_spark.localframe import local_frame
    from fabric_claims_spark.operators.serving_index import (
        apply_lsh_batch,
        apply_lsh_deletes,
        read_lsh_pairs,
    )

    base = "the quick brown fox jumps over the lazy dog by the river bank"
    docs = delta_spark.createDataFrame(
        [
            (1, base),
            (2, "an unrelated sentence about tables and their storage"),
            (3, base + " again"),
            (4, "yet another line of text with different tokens"),
            (5, "an unrelated sentence about tables and their storage!"),
        ],
        "doc_id long, text string",
    )
    parquet = TableStore(delta_spark, str(tmp_path / "parquet"))
    got = {}
    for s in (store, parquet):
        assert apply_lsh_batch(s, docs.where("doc_id <= 2"), 0)
        assert apply_lsh_batch(s, docs.where("doc_id > 2"), 1)
        assert not apply_lsh_batch(s, docs.where("doc_id <= 2"), 0)
        before = {(r["doc_a"], r["doc_b"]) for r in read_lsh_pairs(s).collect()}
        assert {(1, 3), (2, 5)} <= before
        kill = local_frame(delta_spark, [(5,)], "doc_id long")
        assert apply_lsh_deletes(s, kill, 2)
        got[s.use_delta] = sorted(tuple(r) for r in read_lsh_pairs(s).collect())
    assert got[True] == got[False]
    assert all(5 not in (a, b) for a, b, _ in got[True])
    assert (1, 3) in {(a, b) for a, b, _ in got[True]}
