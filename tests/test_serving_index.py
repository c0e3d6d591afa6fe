"""Materialized serving indexes (operators/serving_index.py):
incremental maintenance, exactly-once visibility under at-least-once
delivery, torn-apply invisibility + vacuum, and consumer parity with
the in-plan twins."""

import pytest
from pyspark.sql import functions as F

from fabric_claims_spark.operators.serving_index import (
    LEX_COMMITS,
    LEX_POSTINGS,
    LSH_PAIRS,
    apply_lexical_batch,
    apply_lsh_batch,
    lexical_postings,
    read_lexical_index,
    read_lsh_pairs,
    vacuum_uncommitted,
)
from fabric_claims_spark.sources.merge import TableStore
from fabric_claims_spark.sources.parquet import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def docs(spark):
    return load_table(spark, SF, "documents")


def test_lexical_incremental_equals_oneshot(spark, docs, tmp_path):
    """Three disjoint increments must leave exactly the one-shot
    index: df rollup, postings, and doc lengths all equal."""
    store = TableStore(spark, str(tmp_path / "lex"))
    for b in range(3):
        apply_lexical_batch(
            store, docs.where(F.pmod("doc_id", F.lit(3)) == b), b
        )
    td, dfc, dn = read_lexical_index(store)
    oneshot = lexical_postings(docs)
    assert {tuple(r) for r in td.collect()} == {
        tuple(r) for r in oneshot.collect()
    }
    want_df = {
        (r["term"], r["df"])
        for r in oneshot.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .collect()
    }
    assert {(r["term"], r["df"]) for r in dfc.collect()} == want_df
    want_dn = {
        (r["doc_id"], r["n"])
        for r in oneshot.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert {(r["doc_id"], r["n"]) for r in dn.collect()} == want_dn


def test_lexical_redelivery_is_noop(spark, docs, tmp_path):
    """At-least-once: re-applying a committed batch_id must change
    nothing — postings must not duplicate, df must not double."""
    store = TableStore(spark, str(tmp_path / "lex"))
    batch = docs.where(F.pmod("doc_id", F.lit(3)) == 0)
    apply_lexical_batch(store, batch, 0)
    td1, dfc1, dn1 = read_lexical_index(store)
    snap = (
        td1.count(),
        sorted(tuple(r) for r in dfc1.collect()),
        dn1.count(),
    )
    apply_lexical_batch(store, batch, 0)  # redelivery
    td2, dfc2, dn2 = read_lexical_index(store)
    assert (
        td2.count(),
        sorted(tuple(r) for r in dfc2.collect()),
        dn2.count(),
    ) == snap


def test_torn_apply_is_invisible_and_vacuumable(spark, docs, tmp_path):
    """A crash between append and commit leaves orphan token rows:
    readers must not see them, and vacuum_uncommitted reclaims them."""
    store = TableStore(spark, str(tmp_path / "lex"))
    apply_lexical_batch(store, docs.where(F.col("doc_id") < 20), 0)
    td_before = read_lexical_index(store)[0].count()
    # simulate the torn half-apply: token-stamped rows, never committed
    orphan = (
        lexical_postings(docs.where(F.col("doc_id") >= 20))
        .withColumn("_token", F.lit("dead-attempt"))
    )
    orphan_n = orphan.count()
    assert orphan_n > 0
    store.append(LEX_POSTINGS, orphan)
    assert read_lexical_index(store)[0].count() == td_before  # invisible
    removed = vacuum_uncommitted(store, LEX_POSTINGS, LEX_COMMITS)
    assert removed == orphan_n
    assert read_lexical_index(store)[0].count() == td_before
    # vacuum is idempotent
    assert vacuum_uncommitted(store, LEX_POSTINGS, LEX_COMMITS) == 0


def test_lsh_single_increment_matches_oneshot_pairs(spark, docs, tmp_path):
    """One increment covering the whole corpus == the one-shot
    minhash_near_dups pair set (same threshold/cap/hasher) — the
    parity the served cluster consumer rests on."""
    from fabric_claims_spark.extensions.dedup import minhash_near_dups

    store = TableStore(spark, str(tmp_path / "lsh"))
    apply_lsh_batch(store, docs, 0, threshold=0.5, hasher="md5")
    got = {
        (r["doc_a"], r["doc_b"], r["est_jaccard"])
        for r in read_lsh_pairs(store).collect()
    }
    want = {
        (r["doc_a"], r["doc_b"], r["est_jaccard"])
        for r in minhash_near_dups(
            docs, "doc_id", "text", threshold=0.5, hasher="md5"
        ).collect()
    }
    assert got == want and len(want) > 0


def test_lsh_incremental_covers_all_pair_origins(spark, docs, tmp_path):
    """Corpus + batch increments: the store must contain
    corpus-internal, batch-internal, AND cross pairs — and redelivery
    of the batch increment must not duplicate any of them."""
    store = TableStore(spark, str(tmp_path / "lsh"))
    corpus = docs.where(F.pmod("doc_id", F.lit(5)) != 0)
    batch = docs.where(F.pmod("doc_id", F.lit(5)) == 0)
    apply_lsh_batch(store, corpus, 0, threshold=0.5, hasher="md5")
    n_corpus = read_lsh_pairs(store).count()
    apply_lsh_batch(store, batch, 1, threshold=0.5, hasher="md5")
    pairs = read_lsh_pairs(store)
    n_all = pairs.count()
    assert n_all > n_corpus  # the batch contributed pairs
    # no duplicate unordered pairs across increments
    assert pairs.select("doc_a", "doc_b").distinct().count() == n_all
    # a cross pair exists: one endpoint in batch (pmod 0), one not
    cross = pairs.where(
        (F.pmod("doc_a", F.lit(5)) == 0) != (F.pmod("doc_b", F.lit(5)) == 0)
    ).count()
    assert cross > 0
    apply_lsh_batch(store, batch, 1, threshold=0.5, hasher="md5")
    assert read_lsh_pairs(store).count() == n_all  # redelivery no-op


def test_served_rrf_equals_inplan(spark, tmp_path):
    """The served consumer (index frames read from the store) must
    fuse the identical top-10 the in-plan twin fuses."""
    from fabric_claims_spark.queries import load_all_queries

    reg = load_all_queries()
    inplan = reg["docs_hybrid_rrf_indexed"].fn(spark, SF).collect()
    served = reg["docs_hybrid_rrf_served"].fn(spark, SF).collect()
    assert [tuple(r) for r in served] == [tuple(r) for r in inplan]


def test_served_clusters_equal_inplan(spark):
    from fabric_claims_spark.queries import load_all_queries

    reg = load_all_queries()
    inplan = reg["docs_dup_clusters"].fn(spark, SF).collect()
    served = reg["docs_dup_clusters_served"].fn(spark, SF).collect()
    assert [tuple(r) for r in served] == [tuple(r) for r in inplan]


def test_ivf_rebuild_swaps_atomically_and_preserves_contracts(
    spark, tmp_path
):
    """rebuild_ivf_index (VERDICT r9 item 2): after the rebuild the
    reader sees exactly one retrained assignment per vector and the
    retrained quantizer is consumer-visible; redelivery of a
    PRE-rebuild batch_id stays a no-op (the swap re-points the
    batch_ids, it does not forget them); a post-rebuild increment
    folds in against the NEW quantizer read from the store."""
    from fabric_claims_spark.operators.serving_index import (
        apply_ivf_batch,
        read_ivf_centroids,
        read_ivf_index,
        rebuild_ivf_index,
    )

    emb = load_table(spark, SF, "embeddings")
    seed = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("cv"),
    )
    store = TableStore(spark, str(tmp_path / "ivf"))
    base = emb.where(F.col("vec_id") < 300)
    for b in range(2):
        apply_ivf_batch(
            store, base.where(F.pmod("vec_id", F.lit(2)) == b), b, seed
        )
    assert read_ivf_centroids(store).count() == 0  # pre-rebuild: caller state
    n_before = read_ivf_index(store).count()
    before = {
        r["vec_id"]: r["assigned_centroid"]
        for r in read_ivf_index(store).collect()
    }

    cents = rebuild_ivf_index(store, k=8, iters=2)
    after_idx = read_ivf_index(store)
    assert after_idx.count() == n_before  # same corpus, one row each
    assert after_idx.select("vec_id").distinct().count() == n_before
    # the retrained quantizer is visible and equals the returned state
    stored_cents = {
        r["centroid_id"]: list(r["cv"])
        for r in read_ivf_centroids(store).collect()
    }
    assert stored_cents == {cid: list(cv) for cid, cv in cents}
    # retraining moved at least one bucket boundary on real data
    after = {
        r["vec_id"]: r["assigned_centroid"] for r in after_idx.collect()
    }
    assert before != after

    # pre-rebuild redelivery: still a no-op
    apply_ivf_batch(
        store, base.where(F.pmod("vec_id", F.lit(2)) == 0), 0, seed
    )
    assert read_ivf_index(store).count() == n_before

    # post-rebuild increment folds in against the STORED quantizer
    new_cent = read_ivf_centroids(store).select("centroid_id", "cv")
    apply_ivf_batch(store, emb.where(F.col("vec_id") >= 300), 99, new_cent)
    assert read_ivf_index(store).count() == emb.count()


def test_ivf_torn_rebuild_is_invisible_and_vacuumable(spark, tmp_path):
    """A crash AFTER the rebuild's appends but BEFORE the commit-table
    swap must leave the old index fully intact (both tables), with the
    orphan rows reclaimable — the single-swap atomicity claim."""
    from fabric_claims_spark.extensions.similarity import ivf_assign
    from fabric_claims_spark.operators.serving_index import (
        IVF_CENTROIDS,
        IVF_COMMITS,
        IVF_VECS,
        apply_ivf_batch,
        read_ivf_centroids,
        read_ivf_index,
    )

    emb = load_table(spark, SF, "embeddings")
    seed = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("cv"),
    )
    store = TableStore(spark, str(tmp_path / "ivf"))
    apply_ivf_batch(store, emb, 0, seed)
    n = read_ivf_index(store).count()
    snap = sorted(
        (r["vec_id"], r["assigned_centroid"])
        for r in read_ivf_index(store).collect()
    )

    # the torn half-rebuild: reassignment + centroids appended with a
    # token that never commits
    committed = read_ivf_index(store).select("vec_id", "ev")
    dead = ivf_assign(committed, F.broadcast(seed)).withColumn(
        "_token", F.lit("dead-rebuild")
    )
    store.append(IVF_VECS, dead)
    store.append(
        IVF_CENTROIDS, seed.withColumn("_token", F.lit("dead-rebuild"))
    )
    assert read_ivf_index(store).count() == n  # old index intact
    assert read_ivf_centroids(store).count() == 0
    assert (
        sorted(
            (r["vec_id"], r["assigned_centroid"])
            for r in read_ivf_index(store).collect()
        )
        == snap
    )
    assert vacuum_uncommitted(store, IVF_VECS, IVF_COMMITS) == n
    assert vacuum_uncommitted(store, IVF_CENTROIDS, IVF_COMMITS) == 8
    assert read_ivf_index(store).count() == n


def test_positional_incremental_torn_and_compaction(spark, docs, tmp_path):
    """The positional index under the full store contract in one
    walk: three increments (one redelivered) == one-shot positions;
    a torn apply stays invisible and vacuums; compaction preserves
    the reader view bit-for-bit and phrase results survive it."""
    from fabric_claims_spark.operators.serving_index import (
        POS_COMMITS,
        POS_POSTINGS,
        apply_positional_batch,
        compact_index_table,
        phrase_occurrences,
        positional_postings,
        read_positional_index,
    )

    store = TableStore(spark, str(tmp_path / "pos"))
    for b in range(3):
        batch = docs.where(F.pmod("doc_id", F.lit(3)) == b)
        apply_positional_batch(store, batch, b)
        if b == 1:
            apply_positional_batch(store, batch, b)  # redelivery no-op
    oneshot = {tuple(r) for r in positional_postings(docs).collect()}
    assert {tuple(r) for r in read_positional_index(store).collect()} == oneshot

    # torn apply: token-stamped, never committed -> invisible, vacuumable
    orphan = positional_postings(docs.limit(5)).withColumn(
        "_token", F.lit("dead-attempt")
    )
    store.append(POS_POSTINGS, orphan)
    assert {tuple(r) for r in read_positional_index(store).collect()} == oneshot
    assert vacuum_uncommitted(store, POS_POSTINGS, POS_COMMITS) == orphan.count()

    # phrase results identical before/after compaction
    phrase = spark.createDataFrame(
        [("key", "agg", "row")], ["w1", "w2", "w3"]
    )
    before = {
        tuple(r)
        for r in phrase_occurrences(
            read_positional_index(store), phrase
        ).collect()
    }
    compact_index_table(store, POS_POSTINGS, POS_COMMITS)
    assert {tuple(r) for r in read_positional_index(store).collect()} == oneshot
    after = {
        tuple(r)
        for r in phrase_occurrences(
            read_positional_index(store), phrase
        ).collect()
    }
    assert after == before


def test_skew_triggered_rebuild_policy(spark, tmp_path):
    """maybe_rebuild_ivf_index (VERDICT r10 item 4): the production
    trigger SCALING.md round 10 names — rebuild when max/mean bucket
    skew crosses the threshold — implemented as one bounded groupBy
    plus the existing rebuild.

    Drift fixture: a healthy first increment (real sf0.001 vectors,
    seed quantizer), then a drifted increment whose vectors all point
    the same way, piling into one bucket. The policy must HOLD on the
    healthy store (store untouched — no quantizer published, same
    assignment rows) and FIRE after the drift (skew strictly grew,
    rebuild ran, retrained quantizer consumer-visible, post-rebuild
    skew restored below the drifted reading)."""
    from fabric_claims_spark.operators.serving_index import (
        apply_ivf_batch,
        ivf_bucket_skew,
        maybe_rebuild_ivf_index,
        read_ivf_centroids,
        read_ivf_index,
    )

    emb = load_table(spark, SF, "embeddings")
    seed = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("cv"),
    )
    store = TableStore(spark, str(tmp_path / "ivf"))
    apply_ivf_batch(store, emb.where(F.col("vec_id") < 300), 0, seed)

    # pre-rebuild: the quantizer is caller state, so k is explicit
    with pytest.raises(ValueError):
        ivf_bucket_skew(store)
    skew0 = ivf_bucket_skew(store, k=8)
    thresh = skew0 * 1.001

    # trigger-holds: below threshold the store is untouched
    before = sorted(
        tuple(r)
        for r in read_ivf_index(store)
        .select("vec_id", "assigned_centroid")
        .collect()
    )
    held_skew, held = maybe_rebuild_ivf_index(
        store, skew_threshold=thresh, k=8, iters=2
    )
    assert held is None and held_skew == skew0
    assert read_ivf_centroids(store).count() == 0
    after_hold = sorted(
        tuple(r)
        for r in read_ivf_index(store)
        .select("vec_id", "assigned_centroid")
        .collect()
    )
    assert after_hold == before

    # drifted increment: every vector identical -> one bucket fills
    drifted = emb.where(F.col("vec_id") >= 300).select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: F.lit(1.0).cast("float")).alias(
            "embedding"
        ),
    )
    apply_ivf_batch(store, drifted, 1, seed)
    skew1 = ivf_bucket_skew(store, k=8)
    assert skew1 > skew0  # drift rots bucket balance

    # trigger-fires: rebuild runs, quantizer published, balance back
    fired_skew, cents = maybe_rebuild_ivf_index(
        store, skew_threshold=thresh, k=8, iters=2
    )
    assert fired_skew == skew1 and cents is not None and len(cents) == 8
    assert read_ivf_centroids(store).count() == 8
    # post-rebuild the stored quantizer feeds the skew read directly
    assert ivf_bucket_skew(store) <= skew1
    assert read_ivf_index(store).count() == emb.count()

    # ADVICE r11: once the store carries a committed quantizer its
    # size is authoritative — k=None follows it, a matching explicit
    # k is accepted, a CONFLICTING explicit k raises instead of
    # mis-measuring the denominator / silently re-keying the index.
    followed_skew, _ = maybe_rebuild_ivf_index(
        store, skew_threshold=1e9  # hold: just measure
    )
    assert followed_skew == ivf_bucket_skew(store)
    same_skew, _ = maybe_rebuild_ivf_index(store, skew_threshold=1e9, k=8)
    assert same_skew == followed_skew
    with pytest.raises(ValueError, match="conflicts"):
        maybe_rebuild_ivf_index(store, skew_threshold=1e9, k=16)


def test_maybe_rebuild_requires_k_before_first_rebuild(spark, tmp_path):
    """Before any rebuild the quantizer is caller state: k=None must
    raise (nothing stored to follow), not guess a default size."""
    from fabric_claims_spark.operators.serving_index import (
        apply_ivf_batch,
        maybe_rebuild_ivf_index,
    )

    emb = load_table(spark, SF, "embeddings")
    seed = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("cv"),
    )
    store = TableStore(spark, str(tmp_path / "ivf_nok"))
    apply_ivf_batch(store, emb.where(F.col("vec_id") < 100), 0, seed)
    with pytest.raises(ValueError, match="no stored quantizer"):
        maybe_rebuild_ivf_index(store, skew_threshold=1e9)


# -- erasure (round 12) ------------------------------------------------------


def _lex_store_3inc(spark, docs, path):
    store = TableStore(spark, str(path))
    for b in range(3):
        apply_lexical_batch(
            store, docs.where(F.pmod("doc_id", F.lit(3)) == b), b
        )
    return store


def test_lexical_deletes_match_fresh_build_masked_and_folded(
    spark, docs, tmp_path
):
    """Erase a subset, and the live view (masked AND after the
    physical fold) must equal a fresh build over the surviving
    corpus: postings, doclen, and the additively-decremented df."""
    from fabric_claims_spark.operators.serving_index import (
        apply_lexical_deletes,
        fold_lexical_deletes,
    )

    store = _lex_store_3inc(spark, docs, tmp_path / "lexdel")
    kill = docs.where(F.pmod("doc_id", F.lit(7)) == 3).select("doc_id")
    apply_lexical_deletes(store, kill, 3)
    survivors = docs.where(F.pmod("doc_id", F.lit(7)) != 3)
    want_post = sorted(
        tuple(r) for r in lexical_postings(survivors).collect()
    )
    want_df = sorted(
        (r["term"], r["df"])
        for r in lexical_postings(survivors)
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .collect()
    )
    for label in ("masked", "folded"):
        td, dfc, dn = read_lexical_index(store)
        assert (
            sorted(tuple(r) for r in td.select("doc_id", "term").collect())
            == want_post
        ), label
        assert (
            sorted((r["term"], r["df"]) for r in dfc.collect()) == want_df
        ), label
        assert dn.count() == survivors.where(
            F.length(F.trim("text")) > 0
        ).count(), label
        if label == "masked":
            dropped = fold_lexical_deletes(store)
            assert dropped > 0


def test_lexical_delete_double_and_redelivery_no_reDecrement(
    spark, docs, tmp_path
):
    """A doc must decrement df exactly once: redelivered delete batch
    (same id) AND an overlapping later batch both no-op on it."""
    from fabric_claims_spark.operators.serving_index import (
        apply_lexical_deletes,
    )

    store = _lex_store_3inc(spark, docs, tmp_path / "lexdd")
    kill3 = docs.where(F.pmod("doc_id", F.lit(7)) == 3).select("doc_id")
    apply_lexical_deletes(store, kill3, 3)
    _, df_once, _ = read_lexical_index(store)
    once = sorted((r["term"], r["df"]) for r in df_once.collect())
    apply_lexical_deletes(store, kill3, 3)  # redelivery
    overlap = docs.where(F.pmod("doc_id", F.lit(7)).isin(3, 5)).select(
        "doc_id"
    )
    apply_lexical_deletes(store, overlap, 4)
    survivors = docs.where(~F.pmod("doc_id", F.lit(7)).isin(3, 5))
    want = sorted(
        (r["term"], r["df"])
        for r in lexical_postings(survivors)
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
        .collect()
    )
    _, df_after, _ = read_lexical_index(store)
    got = sorted((r["term"], r["df"]) for r in df_after.collect())
    assert got == want
    assert got != once  # batch 4's NEW ids did land


def test_fold_lexical_deletes_physically_erases(spark, docs, tmp_path):
    """After the fold, the erased doc ids are gone from the RAW
    stored tables (not merely masked) and the tombstone table is
    empty — the bytes an erasure SLA cares about."""
    from fabric_claims_spark.operators.serving_index import (
        LEXICAL,
        LEX_DOCLEN,
        LEX_TOMBSTONES,
        apply_lexical_deletes,
        fold_lexical_deletes,
        read_tombstones,
    )

    store = _lex_store_3inc(spark, docs, tmp_path / "lexphys")
    kill = docs.where(F.pmod("doc_id", F.lit(7)) == 3).select("doc_id")
    killed = {r["doc_id"] for r in kill.collect()}
    apply_lexical_deletes(store, kill, 3)
    # masked: raw rows still on disk
    raw_docs = {
        r["doc_id"]
        for r in store.read(LEX_POSTINGS).select("doc_id").distinct().collect()
    }
    assert killed & raw_docs
    fold_lexical_deletes(store)
    for t in (LEX_POSTINGS, LEX_DOCLEN):
        raw = {
            r["doc_id"]
            for r in store.read(t).select("doc_id").distinct().collect()
        }
        assert not (killed & raw), t
    assert store.read(LEX_TOMBSTONES).count() == 0
    assert read_tombstones(store, LEXICAL).count() == 0
    # a redelivered delete after the fold stays a no-op
    _, df_before, _ = read_lexical_index(store)
    before = sorted((r["term"], r["df"]) for r in df_before.collect())
    apply_lexical_deletes(store, kill, 3)
    _, df_after, _ = read_lexical_index(store)
    assert (
        sorted((r["term"], r["df"]) for r in df_after.collect()) == before
    )


def test_torn_delete_heals_on_redelivery(spark, docs, tmp_path):
    """Crash between the df decrement and the tombstone commit: df
    already holds the retraction, tombstones are uncommitted orphans.
    Redelivering the SAME batch_id must finish the job without
    decrementing again (the rollup skips applied ids)."""
    from fabric_claims_spark.operators.rollup import (
        maintain_additive_rollup_idempotent,
    )
    from fabric_claims_spark.operators.serving_index import (
        LEXICAL,
        LEX_DF,
        apply_lexical_deletes,
        read_tombstones,
    )

    store = _lex_store_3inc(spark, docs, tmp_path / "lextorn")
    kill = docs.where(F.pmod("doc_id", F.lit(7)) == 3).select("doc_id")
    # simulate the torn first attempt: ONLY the rollup leg runs
    td_del = (
        lexical_postings(docs)
        .join(kill, "doc_id", "left_semi")
        .withColumn("_w", F.lit(-1))
    )
    maintain_additive_rollup_idempotent(
        store, LEX_DF, td_del, 3, keys=["term"], count_col="df",
        weight_col="_w",
    )
    assert read_tombstones(store, LEXICAL).count() == 0  # torn state
    # redelivery completes: tombstones land, df NOT decremented again
    apply_lexical_deletes(store, kill, 3)
    survivors = docs.where(F.pmod("doc_id", F.lit(7)) != 3)
    want = sorted(
        (r["term"], r["df"])
        for r in lexical_postings(survivors)
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
        .collect()
    )
    _, dfc, _ = read_lexical_index(store)
    assert sorted((r["term"], r["df"]) for r in dfc.collect()) == want


def test_ivf_deletes_flow_through_skew_and_rebuild(spark, tmp_path):
    """Erased vectors leave the probe view and the skew measurement
    at the commit; the next rebuild trains on live rows only and
    vacuums the stale tombstones (physical erasure)."""
    from fabric_claims_spark.operators.serving_index import (
        IVF,
        IVF_TOMBSTONES,
        apply_ivf_batch,
        apply_ivf_deletes,
        ivf_bucket_skew,
        read_ivf_index,
        read_tombstones,
        rebuild_ivf_index,
    )

    emb = load_table(spark, SF, "embeddings")
    seed = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("cv"),
    )
    store = TableStore(spark, str(tmp_path / "ivfdel"))
    apply_ivf_batch(store, emb, 0, seed)
    n0 = read_ivf_index(store).count()
    skew0 = ivf_bucket_skew(store, k=8)
    kill = emb.where(F.pmod("vec_id", F.lit(5)) == 2).select("vec_id")
    n_kill = kill.count()
    apply_ivf_deletes(store, kill, 1)
    apply_ivf_deletes(store, kill, 1)  # redelivery no-op
    live = read_ivf_index(store)
    assert live.count() == n0 - n_kill
    assert (
        live.join(kill, "vec_id", "left_semi").count() == 0
    )  # erased ids gone from the probe view
    assert ivf_bucket_skew(store, k=8) != skew0 or n_kill == 0
    rebuild_ivf_index(store, k=8, iters=2)
    assert read_ivf_index(store).count() == n0 - n_kill
    assert read_tombstones(store, IVF).count() == 0
    # physical: the raw tombstone table was vacuumed
    assert store.read(IVF_TOMBSTONES).count() == 0


def test_positional_deletes_and_fold(spark, docs, tmp_path):
    """Erased docs leave phrase results at the commit; the fold drops
    the raw rows and clears the tombstones."""
    from fabric_claims_spark.operators.serving_index import (
        POS_POSTINGS,
        POS_TOMBSTONES,
        apply_positional_batch,
        apply_positional_deletes,
        fold_positional_deletes,
        positional_postings,
        read_positional_index,
    )

    store = TableStore(spark, str(tmp_path / "posdel"))
    apply_positional_batch(store, docs, 0)
    kill = docs.where(F.pmod("doc_id", F.lit(7)) == 3).select("doc_id")
    killed = {r["doc_id"] for r in kill.collect()}
    apply_positional_deletes(store, kill, 1)
    live = read_positional_index(store)
    want = sorted(
        tuple(r)
        for r in positional_postings(
            docs.where(F.pmod("doc_id", F.lit(7)) != 3)
        ).collect()
    )
    assert sorted(tuple(r) for r in live.collect()) == want
    dropped = fold_positional_deletes(store)
    assert dropped > 0 or not killed
    raw = {
        r["doc_id"]
        for r in store.read(POS_POSTINGS).select("doc_id").distinct().collect()
    }
    assert not (killed & raw)
    assert store.read(POS_TOMBSTONES).count() == 0
    assert sorted(
        tuple(r) for r in read_positional_index(store).collect()
    ) == want


def test_lsh_deletes_mask_pairs_and_future_candidates(spark, docs, tmp_path):
    """Erasure on the near-dup store: pairs with an erased endpoint
    leave the reader view at the commit; a FUTURE batch must not
    generate candidates against the erased doc's stored band rows;
    the fold physically drops mins/bands/pairs and clears the
    tombstones."""
    from fabric_claims_spark.operators.serving_index import (
        LSH,
        LSH_BANDS,
        LSH_MINS,
        LSH_TOMBSTONES,
        apply_lsh_deletes,
        fold_lsh_deletes,
        read_tombstones,
    )

    store = TableStore(spark, str(tmp_path / "lshdel"))
    corpus = docs.where(F.pmod("doc_id", F.lit(5)) != 0)
    batch = docs.where(F.pmod("doc_id", F.lit(5)) == 0)
    apply_lsh_batch(store, corpus, 0, threshold=0.5, hasher="md5")
    all_pairs = read_lsh_pairs(store)
    # pick the erasure set as every doc appearing in some pair, mod 3
    endpoint = all_pairs.select(
        F.col("doc_a").alias("doc_id")
    ).unionByName(all_pairs.select(F.col("doc_b").alias("doc_id")))
    kill = endpoint.where(F.pmod("doc_id", F.lit(3)) == 0).distinct()
    n_kill = kill.count()
    assert n_kill > 0  # fixture sanity: some paired docs get erased
    apply_lsh_deletes(store, kill, 1)
    apply_lsh_deletes(store, kill, 1)  # redelivery no-op
    live = read_lsh_pairs(store)
    assert (
        live.join(kill.select(F.col("doc_id").alias("doc_a")), "doc_a",
                  "left_semi").count() == 0
    )
    assert (
        live.join(kill.select(F.col("doc_id").alias("doc_b")), "doc_b",
                  "left_semi").count() == 0
    )
    # future increment: no cross pair may touch an erased doc
    apply_lsh_batch(store, batch, 2, threshold=0.5, hasher="md5")
    after = read_lsh_pairs(store)
    for side in ("doc_a", "doc_b"):
        assert (
            after.join(
                kill.select(F.col("doc_id").alias(side)), side, "left_semi"
            ).count() == 0
        ), side
    # physical fold
    dropped = fold_lsh_deletes(store)
    assert dropped > 0
    killed = {r["doc_id"] for r in kill.collect()}
    for t, col in ((LSH_MINS, "doc"), (LSH_BANDS, "doc")):
        raw = {
            r[col]
            for r in store.read(t).select(col).distinct().collect()
        }
        assert not (killed & raw), t
    assert store.read(LSH_TOMBSTONES).count() == 0
    assert read_tombstones(store, LSH).count() == 0
    # reader view unchanged by the fold
    assert sorted(tuple(r) for r in read_lsh_pairs(store).collect()) == (
        sorted(tuple(r) for r in after.collect())
    )


def test_lexical_delete_vanishes_fully_erased_terms(spark, tmp_path):
    """A term carried ONLY by erased docs must vanish from the df
    view (df=0 filtered), exactly as a fresh build never sees it —
    and reappear nowhere after the physical fold. The corpus fixture
    makes the path real: 'unicorn' exists only in the doomed docs
    (the sf corpora's shared vocabulary never fully erases a term,
    so this edge needs a synthetic corpus)."""
    from fabric_claims_spark.operators.serving_index import (
        apply_lexical_deletes,
        fold_lexical_deletes,
    )

    docs = spark.createDataFrame(
        [
            (1, "common words here"),
            (2, "unicorn common"),
            (3, "unicorn alone"),
            (4, "words again"),
        ],
        "doc_id long, text string",
    )
    store = TableStore(spark, str(tmp_path / "vanish"))
    apply_lexical_batch(store, docs, 0)
    _, df0, _ = read_lexical_index(store)
    assert ("unicorn", 2) in {(r["term"], r["df"]) for r in df0.collect()}
    kill = docs.where(F.col("doc_id").isin(2, 3)).select("doc_id")
    apply_lexical_deletes(store, kill, 1)
    for stage in ("masked", "folded"):
        td, dfc, _ = read_lexical_index(store)
        terms = {(r["term"], r["df"]) for r in dfc.collect()}
        assert terms == {
            ("common", 1), ("words", 2), ("here", 1),
            ("again", 1), ("alone", 0),
        } - {("alone", 0)}, stage
        assert "unicorn" not in {r["term"] for r in td.collect()}, stage
        if stage == "masked":
            fold_lexical_deletes(store)
