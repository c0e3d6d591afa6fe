"""Banded-LSH blocking (extensions/dedup.py): parameter validation and
the hot-bucket cap boundary on the self path and the batch-vs-store
path."""

import os

import pytest

from fabric_claims_spark.extensions.dedup import (
    incremental_dedup,
    minhash_near_dups,
    simhash_band_pairs,
)
from fabric_claims_spark.operators.serving_index import (
    apply_lsh_batch,
    read_lsh_pairs,
)
from fabric_claims_spark.sources.merge import TableStore


def _periodic(doc_id: int, copies: int) -> tuple[int, str]:
    """A doc whose char-5-gram set is the same for every ``copies``
    >= 2: identical MinHash signatures (so every band bucket is
    shared) but a distinct text, so the exact-hash leg never fires."""
    return doc_id, "near dup " * copies


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


_BAD = [
    pytest.param({"bands": 10}, id="bands-not-dividing-num_hashes"),
    pytest.param({"bucket_cap": 0}, id="bucket_cap-below-1"),
]


def _run_minhash_near_dups(spark, tmp_path, docs, bad):
    minhash_near_dups(docs, "doc_id", "text", **bad)


def _run_incremental_dedup(spark, tmp_path, docs, bad):
    incremental_dedup(docs, docs, "doc_id", "text", **bad)


def _run_apply_lsh_batch(spark, tmp_path, docs, bad):
    root = str(tmp_path / "lsh")
    try:
        apply_lsh_batch(TableStore(spark, root), docs, 0, **bad)
    finally:
        # nothing written: no lsh_* table, so no orphan rows either
        left = os.listdir(root) if os.path.isdir(root) else []
        assert not [n for n in left if n.startswith("lsh_")], left


@pytest.mark.parametrize("bad", _BAD)
@pytest.mark.parametrize(
    "run",
    [_run_minhash_near_dups, _run_incremental_dedup, _run_apply_lsh_batch],
    ids=["minhash_near_dups", "incremental_dedup", "apply_lsh_batch"],
)
def test_bad_blocking_parameters_raise(spark, tmp_path, run, bad):
    """Bands that leave hash slots out of every band, or a cap that
    drops every bucket, are rejected before any work is done."""
    docs = _docs(spark, [_periodic(1, 3), _periodic(2, 4)])
    with pytest.raises(ValueError):
        run(spark, tmp_path, docs, bad)


def test_self_path_cap_boundary(spark):
    """Three docs sharing every bucket pair at bucket_cap=3 (bucket
    size == cap is kept) and not at 2."""
    docs = _docs(spark, [_periodic(i, 10 + i) for i in (1, 2, 3)])

    def pairs(cap):
        return {
            (r["doc_a"], r["doc_b"])
            for r in minhash_near_dups(
                docs, "doc_id", "text", threshold=0.5, bucket_cap=cap
            ).collect()
        }

    assert pairs(3) == {(1, 2), (1, 3), (2, 3)}
    assert pairs(2) == set()
    sigs = spark.createDataFrame(
        [(i, 12345) for i in (1, 2, 3)], "doc long, simhash long"
    )
    assert simhash_band_pairs(sigs, bucket_cap=3).count() == 3
    assert simhash_band_pairs(sigs, bucket_cap=2).count() == 0


def test_incremental_dedup_cap_boundary(spark):
    """Two stored docs and one batch doc with the same signature: the
    stored buckets hold 2 docs, so the batch doc pairs at bucket_cap=2
    and not at 1."""
    corpus = _docs(spark, [_periodic(1, 10), _periodic(2, 11)])
    batch = _docs(spark, [_periodic(3, 12)])

    def verdict(cap):
        (row,) = incremental_dedup(
            corpus, batch, "doc_id", "text", bucket_cap=cap
        ).collect()
        return row["status"], row["match_id"]

    assert verdict(2) == ("near_dup", 1)
    assert verdict(1) == ("new", None)


@pytest.mark.parametrize("cap, want", [(2, {(1, 3), (2, 3)}), (1, set())])
def test_apply_lsh_batch_cap_boundary(spark, tmp_path, cap, want):
    """The stored-index twin of the incremental boundary: a batch doc
    pairs with the two stored docs sharing its buckets at bucket_cap=2
    and with neither at 1."""
    store = TableStore(spark, str(tmp_path / "lsh"))
    apply_lsh_batch(
        store, _docs(spark, [_periodic(1, 10), _periodic(2, 11)]), 0, bucket_cap=cap
    )
    apply_lsh_batch(store, _docs(spark, [_periodic(3, 12)]), 1, bucket_cap=cap)
    got = {(r["doc_a"], r["doc_b"]) for r in read_lsh_pairs(store).collect()}
    assert {p for p in got if 3 in p} == want
