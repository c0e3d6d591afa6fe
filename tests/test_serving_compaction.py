"""compact_index_table (VERDICT r9 item 6): reader-visible state is
bit-identical across a compaction, orphans are reclaimed for free,
and the physical file count collapses to the target."""

import glob

from pyspark.sql import functions as F

from fabric_claims_spark.operators.serving_index import (
    LEX_COMMITS,
    LEX_POSTINGS,
    apply_lexical_batch,
    compact_index_table,
    lexical_postings,
    read_lexical_index,
    vacuum_uncommitted,
)
from fabric_claims_spark.sources.merge import TableStore
from fabric_claims_spark.sources.parquet import load_table

SF = "/root/testdata/sf0.001"


def _postings_files(store) -> int:
    version = store._current_version(LEX_POSTINGS)
    return len(
        glob.glob(f"{store._dir(LEX_POSTINGS)}/{version}/*.parquet")
    )


def test_compaction_preserves_visible_state_and_drops_orphans(
    spark, tmp_path
):
    docs = load_table(spark, SF, "documents")
    store = TableStore(spark, str(tmp_path / "lex"))
    for b in range(5):
        apply_lexical_batch(
            store, docs.where(F.pmod("doc_id", F.lit(5)) == b), b
        )
    td, df_, dl = read_lexical_index(store)
    before = sorted(map(tuple, td.collect()))
    df_before = sorted(map(tuple, df_.collect()))

    # a torn-apply orphan rides along and must vanish on compact
    orphan = lexical_postings(
        docs.limit(3).select(
            (F.col("doc_id") + 10_000_000).alias("doc_id"), "text"
        )
    ).withColumn("_token", F.lit("dead-attempt"))
    n_orphan = orphan.count()
    assert n_orphan > 0
    store.append(LEX_POSTINGS, orphan)

    n = compact_index_table(store, LEX_POSTINGS, LEX_COMMITS, n_files=4)
    assert n == len(before)
    td2, df2, _ = read_lexical_index(store)
    assert sorted(map(tuple, td2.collect())) == before
    assert sorted(map(tuple, df2.collect())) == df_before
    assert _postings_files(store) <= 4
    # the orphans were dropped by the rewrite itself
    assert vacuum_uncommitted(store, LEX_POSTINGS, LEX_COMMITS) == 0

    # post-compaction increments still fold in (tokens were retained,
    # so the commit protocol is undisturbed)
    extra = docs.limit(5).select(
        (F.col("doc_id") + 20_000_000).alias("doc_id"), "text"
    )
    apply_lexical_batch(store, extra, 99)
    td3, _, _ = read_lexical_index(store)
    assert td3.count() > len(before)


def test_compaction_on_missing_table_is_noop(spark, tmp_path):
    store = TableStore(spark, str(tmp_path / "empty"))
    assert compact_index_table(store, LEX_POSTINGS, LEX_COMMITS) == 0


def test_compaction_is_generic_across_ivf_and_positional_stores(
    spark, tmp_path
):
    """compact_index_table is store-agnostic (committed rows -> one
    version, tokens retained): pin reader-state identity across a
    mid-stream compaction for the two stores the lexical tests don't
    cover — the IVF assignment and the positional postings — including
    a post-compaction increment folding into each."""
    from pyspark.sql import functions as F

    from fabric_claims_spark.operators.serving_index import (
        IVF_COMMITS,
        IVF_VECS,
        POS_COMMITS,
        POS_POSTINGS,
        apply_ivf_batch,
        apply_positional_batch,
        positional_postings,
        read_ivf_index,
        read_positional_index,
    )
    from fabric_claims_spark.sources.parquet import load_table

    sf = "/root/testdata/sf0.001"

    # IVF: two increments, compact, third increment — the stored
    # assignment must equal the one-shot build (fixed quantizer).
    emb = load_table(spark, sf, "embeddings")
    seed = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("cv"),
    )
    store = TableStore(spark, str(tmp_path / "ivf"))
    for b in range(2):
        apply_ivf_batch(
            store, emb.where(F.pmod("vec_id", F.lit(3)) == b), b, seed
        )
    assert compact_index_table(store, IVF_VECS, IVF_COMMITS) > 0
    apply_ivf_batch(
        store, emb.where(F.pmod("vec_id", F.lit(3)) == 2), 2, seed
    )
    oneshot = TableStore(spark, str(tmp_path / "ivf1"))
    apply_ivf_batch(oneshot, emb, 0, seed)
    got = sorted(
        tuple(r)
        for r in read_ivf_index(store)
        .select("vec_id", "assigned_centroid", "centroid_sim")
        .collect()
    )
    want = sorted(
        tuple(r)
        for r in read_ivf_index(oneshot)
        .select("vec_id", "assigned_centroid", "centroid_sim")
        .collect()
    )
    assert got == want and len(got) == emb.count()

    # positional: same shape; stored postings == in-plan postings.
    docs = load_table(spark, sf, "documents")
    pstore = TableStore(spark, str(tmp_path / "pos"))
    for b in range(2):
        apply_positional_batch(
            pstore, docs.where(F.pmod("doc_id", F.lit(3)) == b), b
        )
    assert compact_index_table(pstore, POS_POSTINGS, POS_COMMITS) > 0
    apply_positional_batch(
        pstore, docs.where(F.pmod("doc_id", F.lit(3)) == 2), 2
    )
    got_p = sorted(
        tuple(r) for r in read_positional_index(pstore).collect()
    )
    want_p = sorted(tuple(r) for r in positional_postings(docs).collect())
    assert got_p == want_p


def test_file_count_triggered_compaction_policy(spark, tmp_path):
    """maybe_compact_index_table (round 12): holds strictly below the
    file threshold (no version churn — the pointer must not move),
    fires at/above it, and the reader view is bit-identical across
    the fire."""
    from fabric_claims_spark.operators.serving_index import (
        LEX_COMMITS,
        LEX_POSTINGS,
        apply_lexical_batch,
        index_file_count,
        maybe_compact_index_table,
        read_lexical_index,
    )
    from fabric_claims_spark.sources.merge import TableStore
    from fabric_claims_spark.sources.parquet import load_table

    import pytest as _pytest
    from pyspark.sql import functions as F

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    store = TableStore(spark, str(tmp_path / "cmp"))
    for b in range(4):
        apply_lexical_batch(
            store, docs.where(F.pmod("doc_id", F.lit(4)) == b), b
        )
    fc0 = index_file_count(store, LEX_POSTINGS)
    assert fc0 >= 4  # one append file minimum per increment
    ptr_before = store._current_version(LEX_POSTINGS)
    held_fc, fired = maybe_compact_index_table(
        store, LEX_POSTINGS, LEX_COMMITS, file_threshold=fc0 + 1
    )
    assert (held_fc, fired) == (fc0, False)
    assert store._current_version(LEX_POSTINGS) == ptr_before  # no churn
    before = sorted(
        tuple(r) for r in read_lexical_index(store)[0].collect()
    )
    fire_fc, fired = maybe_compact_index_table(
        store, LEX_POSTINGS, LEX_COMMITS, file_threshold=fc0, n_files=2
    )
    assert (fire_fc, fired) == (fc0, True)
    assert store._current_version(LEX_POSTINGS) != ptr_before
    assert index_file_count(store, LEX_POSTINGS) <= max(2, fc0 - 1)
    after = sorted(
        tuple(r) for r in read_lexical_index(store)[0].collect()
    )
    assert after == before  # reader visibility bit-identical
    with _pytest.raises(ValueError, match="file_threshold"):
        maybe_compact_index_table(
            store, LEX_POSTINGS, LEX_COMMITS, file_threshold=0
        )


def test_vacuum_reads_token_stats_by_leaf_path_past_a_struct(
    spark, tmp_path
):
    """The file-level vacuum decides each file from its ``_token``
    footer statistics. Statistics are per parquet LEAF column, so a
    struct column written ahead of ``_token`` shifts the leaf index
    away from the top-level one; the struct's second leaf here is
    constant per file, so reading the wrong leaf would keep the
    orphan file and drop a committed one."""
    from fabric_claims_spark.operators.serving_index import _write_commits

    store = TableStore(spark, str(tmp_path / "nested"))
    schema = "s struct<a: string, b: string>, _token string, v long"
    files = [  # (s.b, _token, rows): one constant of each per file
        ("t1", "t1", [1, 2]),
        ("zz", "t2", [3, 4, 5]),
        ("t1", "orphan", [6]),
    ]
    for sb, tok, vals in files:
        store.append(
            "t",
            spark.createDataFrame(
                [(("x", sb), tok, v) for v in vals], schema
            ).coalesce(1),
        )
    _write_commits(store, "t_commits", {0: "t1", 1: "t2"})

    assert vacuum_uncommitted(store, "t", "t_commits") == 1
    assert sorted(r["v"] for r in store.read("t").collect()) == [1, 2, 3, 4, 5]
