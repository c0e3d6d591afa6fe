"""Masking / RLS view-factory tests (SURVEY.md §2.12)."""

from pyspark.sql import functions as F

from fabric_claims_spark.plans.governance import (
    mask_hash,
    mask_partial,
    masked_view,
    provider_rls,
)


def test_masked_view(spark):
    df = spark.createDataFrame(
        [("c1", "555-12-3456", 100.0)], "id string, ssn string, amt double"
    )
    out = masked_view(df, {"ssn": lambda c: mask_partial(c, keep_last=4)}).first()
    assert out["ssn"] == "*******3456"
    assert out["amt"] == 100.0  # unmasked columns pass through


def test_mask_hash_join_stable(spark):
    df = spark.createDataFrame([("p1",), ("p1",), ("p2",)], "pid string")
    out = df.select(mask_hash(F.col("pid"), "s").alias("h")).collect()
    assert out[0]["h"] == out[1]["h"] != out[2]["h"]
    assert len(out[0]["h"]) == 64


def test_provider_rls_pushes_filter(spark):
    df = spark.createDataFrame(
        [("a", "prov1"), ("b", "prov2"), ("c", "prov1")],
        "claim string, ProviderID string",
    )
    out = provider_rls(df, ["prov1"])
    rows = out.collect()
    assert {r["claim"] for r in rows} == {"a", "c"}
    assert all(r["ProviderID"] == "prov1" for r in rows)


def test_table_store_delete_and_forget_subject(spark, tmp_path):
    """DELETE removes exactly the predicate rows (atomic version
    commit on the fallback store) and forget_subject erases a key
    across tables with per-table audit rows that never name the key."""
    import pyspark.sql.functions as F

    from fabric_claims_spark.plans.governance import forget_subject
    from fabric_claims_spark.sources.merge import TableStore

    store = TableStore(spark, str(tmp_path / "store"))
    orders = spark.createDataFrame(
        [(1, 10.0), (1, 20.0), (2, 5.0), (3, 7.0)], "cust long, amt double"
    )
    events = spark.createDataFrame(
        [(1, "view"), (2, "click"), (2, "view")], "cust long, etype string"
    )
    store.overwrite("t_orders", orders)
    store.overwrite("t_events", events)

    # plain delete
    assert store.delete("t_orders", F.col("amt") > 15.0) == 1
    assert store.read("t_orders").count() == 3
    # no-match delete is a no-op (no new version churn)
    assert store.delete("t_orders", F.col("amt") > 1e9) == 0
    # missing table
    assert store.delete("t_missing", F.lit(True)) == 0

    erased = forget_subject(
        store, {"t_orders": "cust", "t_events": "cust"}, subject_id=1
    )
    # the amt>15 delete above already removed one of subject 1's rows
    assert erased == {"t_orders": 1, "t_events": 1}
    assert (
        store.read("t_orders").where(F.col("cust") == 1).count() == 0
    )
    assert store.read("t_events").where(F.col("cust") == 1).count() == 0
    # audit rows: one per table, counts only — the key never appears
    from fabric_claims_spark.sources.audit import AUDIT_TABLE

    audit = store.read(AUDIT_TABLE).where(
        F.col("PipelineName") == "gdpr_erasure"
    )
    assert audit.count() == 2
    assert sorted(r["RowsWritten"] for r in audit.collect()) == [1, 1]


def test_k_anonymize_enforces_k_floor(spark, sf_dir):
    """The enforcement transform's guarantee: every released class
    (and every surviving row's class) has >= k members; the class
    table re-measures to k_anonymity >= k; rows agree with classes
    exactly; the chosen level is the FIRST ladder level whose
    unsuppressed k reaches the threshold."""
    from fabric_claims_spark.plans.governance import k_anonymize
    from fabric_claims_spark.sources.parquet import load_table

    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    rows, classes = k_anonymize(c, n, k=5)

    cls = classes.collect()
    assert cls and min(r["n"] for r in cls) >= 5  # the k floor
    # one level chosen globally
    assert len({r["level"] for r in cls}) == 1
    # rows re-aggregate to exactly the released class table
    re = {
        (r["geo"], r["segment"], r["bal_band"]): r["cnt"]
        for r in rows.groupBy("geo", "segment", "bal_band")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    assert re == {
        (r["geo"], r["segment"], r["bal_band"]): r["n"] for r in cls
    }
    # suppressed + kept == total
    assert rows.count() + (c.count() - rows.count()) == c.count()
    assert rows.count() == sum(r["n"] for r in cls)


def test_kl_anonymize_enforces_both_floors(spark, sf_dir):
    """The combined transform's guarantee (VERDICT r9 item 3): every
    released cell has >= k members AND every released (geo, segment)
    group carries >= l distinct balance bands; rows re-aggregate to
    classes exactly; l=1 degenerates bit-identically to pure
    k-anonymity."""
    from fabric_claims_spark.plans.governance import (
        k_anonymize,
        kl_anonymize,
    )
    from fabric_claims_spark.sources.parquet import load_table

    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    rows, classes = kl_anonymize(c, n, k=2, l=2)
    cls = classes.collect()
    assert cls and min(r["n"] for r in cls) >= 2  # k floor
    by_group: dict[tuple, set] = {}
    for r in cls:
        by_group.setdefault((r["geo"], r["segment"]), set()).add(
            r["bal_band"]
        )
    assert min(len(bands) for bands in by_group.values()) >= 2  # l floor
    re = {
        (r["geo"], r["segment"], r["bal_band"]): r["cnt"]
        for r in rows.groupBy("geo", "segment", "bal_band")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    assert re == {
        (r["geo"], r["segment"], r["bal_band"]): r["n"] for r in cls
    }

    # l=1 IS k_anonymize — the delegation must be result-identical
    k_rows, k_cls = k_anonymize(c, n, k=5)
    kl_rows, kl_cls = kl_anonymize(c, n, k=5, l=1)
    assert sorted(map(tuple, k_cls.collect())) == sorted(
        map(tuple, kl_cls.collect())
    )
    assert sorted(map(tuple, k_rows.collect())) == sorted(
        map(tuple, kl_rows.collect())
    )


def test_kl_anonymize_two_stage_suppression_interplay(spark):
    """The subtle fixpoint case the two-stage order exists for: at
    the fallback level a below-k CELL drops first, which pushes its
    (geo, segment) group's SURVIVING distinct-band count below l, so
    the whole group — including its k-safe cells — must drop in
    stage 2, while an untouched group releases in full. Crafted so
    no ladder level satisfies the joint choice (a singleton cell at
    every level forces the fallback)."""
    from fabric_claims_spark.plans.governance import kl_anonymize

    custs = spark.createDataFrame(
        # region 0 / nation 0: two full cells -> survives both stages
        [(1, 0, "S", 500.0), (2, 0, "S", 500.0),
         (3, 0, "S", 4500.0), (4, 0, "S", 4500.0),
         # region 1 / nation 1: one k-safe cell + one singleton cell;
         # after the singleton drops, the group has 1 distinct band
         (5, 1, "S", 500.0), (6, 1, "S", 500.0), (7, 1, "S", 4500.0)],
        "c_custkey long, c_nationkey long, c_mktsegment string, "
        "c_acctbal double",
    )
    nats = spark.createDataFrame(
        [(0, 0), (1, 1)], "n_nationkey long, n_regionkey long"
    )
    rows, classes = kl_anonymize(custs, nats, k=2, l=2)
    cls = sorted(
        (r["geo"], r["segment"], r["bal_band"], r["n"])
        for r in classes.collect()
    )
    # fallback = last ladder level (region rollup, 4000-band): region
    # 0 releases both cells; region 1 is suppressed WHOLE even though
    # its band-0 cell alone is k-safe
    assert cls == [("r0", "S", 0, 2), ("r0", "S", 1, 2)]
    kept = sorted(r["c_custkey"] for r in rows.collect())
    assert kept == [1, 2, 3, 4]


def test_klt_anonymize_enforces_all_three_floors(spark, sf_dir):
    """The triad transform (round 10): every released cell >= k,
    every released group >= l distinct bands AND <= t ordered-EMD vs
    the ORIGINAL global band distribution at the chosen level's
    granularity; t=None degenerates bit-identically to kl; on the
    real sf0.001 data the t-stage is load-bearing (kl releases
    groups klt suppresses)."""
    from fabric_claims_spark.plans.governance import (
        kl_anonymize,
        klt_anonymize,
    )
    from fabric_claims_spark.sources.parquet import load_table

    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    rows, classes = klt_anonymize(c, n, k=2, l=2, t=0.15)
    cls = classes.collect()
    assert cls and min(r["n"] for r in cls) >= 2  # k floor
    by_group: dict[tuple, dict] = {}
    for r in cls:
        d = by_group.setdefault(
            (r["geo"], r["segment"]), {"bands": {}, "level": r["level"]}
        )
        d["bands"][r["bal_band"]] = r["n"]
    assert min(len(d["bands"]) for d in by_group.values()) >= 2  # l floor

    # t floor, re-derived independently: EMD of each released group's
    # SURVIVING cells vs the original global distribution at the
    # chosen level's band granularity
    level = cls[0]["level"]
    width = [1000, 2000, 2000, 4000][level]
    base = c.selectExpr(
        f"cast(floor(c_acctbal / {width}) as bigint) as band"
    ).collect()
    n_total = len(base)
    from collections import Counter

    gdist = Counter(r["band"] for r in base)
    bands = sorted(gdist)
    m = len(bands)
    for (geo, seg), d in by_group.items():
        nc = sum(d["bands"].values())
        cum, s = 0, 0
        for b in bands:
            cum += d["bands"].get(b, 0) * n_total - gdist[b] * nc
            s += abs(cum)
        emd = s / (nc * n_total * (m - 1))
        assert emd <= 0.15 + 1e-12, (geo, seg, emd)

    # t=None IS kl — the delegation must be result-identical
    a_rows = kl_anonymize(c, n, k=2, l=2)[1].collect()
    b_rows = klt_anonymize(c, n, k=2, l=2, t=None)[1].collect()
    assert sorted(map(tuple, a_rows)) == sorted(map(tuple, b_rows))
    # ... and on this data the t-stage actually suppresses: kl
    # releases groups the triad drops as over-skewed
    kl_groups = {(r["geo"], r["segment"]) for r in a_rows}
    assert set(by_group) < kl_groups


def test_enforce_k_anonymity_audits_suppression(spark, tmp_path, sf_dir):
    """The audited wrapper logs the KEPT row count under the
    governance layer (never the suppressed keys) and reports an
    exact total/kept/suppressed split."""
    from fabric_claims_spark.plans.governance import enforce_k_anonymity
    from fabric_claims_spark.sources.audit import AUDIT_TABLE
    from fabric_claims_spark.sources.merge import TableStore
    from fabric_claims_spark.sources.parquet import load_table

    store = TableStore(spark, str(tmp_path / "store"))
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    got = enforce_k_anonymity(store, c, n, k=5)
    assert got["total"] == c.count()
    assert got["kept"] + got["suppressed"] == got["total"]
    assert 0 <= got["level"] <= 3
    audit = store.read(AUDIT_TABLE).where(
        F.col("PipelineName") == "k_anonymize"
    )
    rows = audit.collect()
    assert len(rows) == 1
    assert rows[0]["RowsWritten"] == got["kept"]
    assert rows[0]["TargetObject"] == "k_anonymize(k=5)"

    # the combined wrapper records both floors in the audit target
    got_kl = enforce_k_anonymity(
        store, c, n, k=5, l=4, audit_pipeline="kl_anonymize"
    )
    assert got_kl["kept"] + got_kl["suppressed"] == got_kl["total"]
    assert got_kl["kept"] <= got["kept"]  # l can only suppress more
    kl_audit = store.read(AUDIT_TABLE).where(
        F.col("PipelineName") == "kl_anonymize"
    ).collect()
    assert len(kl_audit) == 1
    assert kl_audit[0]["TargetObject"] == "kl_anonymize(k=5,l=4)"
    assert kl_audit[0]["RowsWritten"] == got_kl["kept"]


def test_forget_documents_cascades_across_serving_families(
    spark, tmp_path
):
    """Round 12: one erasure request fans out to every materialized
    index family present in the store — the subject's content must
    leave postings, phrase positions, near-dup pairs, AND the vector
    index at the commit, with one counts-only audit row per family."""
    from fabric_claims_spark.operators.serving_index import (
        apply_ivf_batch,
        apply_lexical_batch,
        apply_lsh_batch,
        apply_positional_batch,
        read_ivf_index,
        read_lexical_index,
        read_lsh_pairs,
        read_positional_index,
    )
    from fabric_claims_spark.plans.governance import forget_documents
    from fabric_claims_spark.sources.merge import TableStore
    from fabric_claims_spark.sources.parquet import load_table

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    emb = load_table(spark, sf, "embeddings")
    store = TableStore(spark, str(tmp_path / "idx"))
    apply_lexical_batch(store, docs, 0)
    apply_positional_batch(store, docs, 0)
    apply_lsh_batch(store, docs, 0, threshold=0.5, hasher="md5")
    seed = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("cv"),
    )
    apply_ivf_batch(store, emb, 0, seed)

    kill = docs.where(F.pmod("doc_id", F.lit(5)) == 0).select("doc_id")
    vkill = emb.where(F.pmod("vec_id", F.lit(5)) == 0).select("vec_id")
    out = forget_documents(store, kill, batch_id=1, vec_ids=vkill)
    assert set(out) == {"lexical", "positional", "lsh", "ivf"}

    td, _, dn = read_lexical_index(store)
    for frame, col in (
        (td, "doc_id"),
        (dn, "doc_id"),
        (read_positional_index(store), "doc_id"),
        (read_ivf_index(store), "vec_id"),
    ):
        ids = kill if col == "doc_id" else vkill
        assert (
            frame.join(ids.withColumnRenamed(ids.columns[0], col), col,
                       "left_semi").count() == 0
        )
    pairs = read_lsh_pairs(store)
    for side in ("doc_a", "doc_b"):
        assert (
            pairs.join(
                kill.withColumnRenamed("doc_id", side), side, "left_semi"
            ).count() == 0
        ), side

    # audit: one counts-only row per family
    from fabric_claims_spark.sources.audit import AUDIT_TABLE

    audit = store.read(AUDIT_TABLE).where(
        F.col("PipelineName") == "gdpr_erasure"
    )
    assert audit.count() == 4
    targets = {r["TargetObject"] for r in audit.collect()}
    assert targets == {
        "serving_index:lexical",
        "serving_index:positional",
        "serving_index:lsh",
        "serving_index:ivf",
    }

    # redelivery of the whole request: every family no-ops
    before = read_lexical_index(store)[1].count()
    forget_documents(store, kill, batch_id=1, vec_ids=vkill)
    assert read_lexical_index(store)[1].count() == before


def test_forget_documents_selects_doc_id_by_name(spark, tmp_path):
    """An erasure request may carry more than the doc ids: a
    (vec_id, doc_id) frame erases the docs named in ``doc_id`` — not
    whatever column comes first — and a multi-column frame without a
    ``doc_id`` column is rejected instead of guessed at."""
    import pytest

    from fabric_claims_spark.localframe import local_frame
    from fabric_claims_spark.operators.serving_index import (
        apply_lexical_batch,
        read_lexical_index,
    )
    from fabric_claims_spark.plans.governance import forget_documents
    from fabric_claims_spark.sources.merge import TableStore

    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta"), (3, "eps zeta"),
         (4, "eta theta")],
        "doc_id long, text string",
    )
    store = TableStore(spark, str(tmp_path / "idx"))
    apply_lexical_batch(store, docs, 0)

    req = local_frame(spark, [(3, 1)], "vec_id long, doc_id long")
    assert forget_documents(store, req) == {"lexical": 1}
    live = {r["doc_id"] for r in read_lexical_index(store)[2].collect()}
    assert live == {2, 3, 4}

    bad = local_frame(spark, [(3, 4)], "vec_id long, other long")
    with pytest.raises(ValueError, match="doc_id"):
        forget_documents(store, bad)


def test_forget_documents_resolves_vectors_from_docmap(spark, tmp_path):
    """Round 13 (VERDICT r12 item 4): complete-by-default erasure.
    When the IVF index was built with ``doc_col``, a forget carrying
    ONLY doc_ids must leave zero live vectors for those docs — the
    doc→vec resolution happens inside the operator, not in the
    caller's memory. Audit rows stay counts-only."""
    from fabric_claims_spark.operators.serving_index import (
        apply_ivf_batch,
        apply_lexical_batch,
        read_ivf_docmap,
        read_ivf_index,
        read_lexical_index,
    )
    from fabric_claims_spark.plans.governance import forget_documents
    from fabric_claims_spark.sources.merge import TableStore
    from fabric_claims_spark.sources.parquet import load_table

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    emb = load_table(spark, sf, "embeddings").select(
        "vec_id", "embedding", (F.col("vec_id") % 37).alias("doc_id")
    )
    seed = load_table(spark, sf, "embeddings").where(
        F.col("vec_id") < 8
    ).select(
        F.col("vec_id").alias("centroid_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("cv"),
    )
    store = TableStore(spark, str(tmp_path / "idx"))
    apply_lexical_batch(store, docs, 0)
    apply_ivf_batch(store, emb, 0, seed, doc_col="doc_id")

    kill = docs.where(F.pmod("doc_id", F.lit(7)) == 3).select("doc_id")
    out = forget_documents(store, kill, batch_id=1)  # NO vec_ids
    assert "ivf" in out and out["ivf"] > 0

    # zero live vectors remain for the forgotten docs
    live = read_ivf_index(store).join(
        read_ivf_docmap(store), "vec_id", "left"
    )
    assert (
        live.join(kill, "doc_id", "left_semi").count() == 0
    )
    # and the mapping itself is masked for them
    assert (
        read_ivf_docmap(store).join(kill, "doc_id", "left_semi").count()
        == 0
    )
    # lexical leg erased too (the cascade is unchanged)
    td, _, _ = read_lexical_index(store)
    assert td.join(kill, "doc_id", "left_semi").count() == 0

    # audit rows carry counts only — no id-bearing columns
    from fabric_claims_spark.sources.audit import AUDIT_TABLE

    audit = store.read(AUDIT_TABLE).where(
        F.col("PipelineName") == "gdpr_erasure"
    )
    for r in audit.collect():
        assert r["Status"] == "Succeeded"
        assert r["RowsWritten"] >= 0 and r["ErrorMessage"] is None


def test_forget_documents_without_mapping_raises_not_silent(
    spark, tmp_path
):
    """An IVF store with no doc→vec mapping and no vec_ids: erasure
    must REFUSE rather than record success while the subject's
    embeddings stay queryable (the round-12 foot-gun)."""
    import pytest as _pytest

    from fabric_claims_spark.operators.serving_index import (
        apply_ivf_batch,
        apply_lexical_batch,
    )
    from fabric_claims_spark.plans.governance import forget_documents
    from fabric_claims_spark.sources.merge import TableStore
    from fabric_claims_spark.sources.parquet import load_table

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    emb = load_table(spark, sf, "embeddings")
    seed = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("cv"),
    )
    store = TableStore(spark, str(tmp_path / "idx"))
    apply_lexical_batch(store, docs, 0)
    apply_ivf_batch(store, emb, 0, seed)  # no doc_col → no mapping

    kill = docs.where(F.pmod("doc_id", F.lit(7)) == 3).select("doc_id")
    with _pytest.raises(ValueError, match="doc→vec mapping"):
        forget_documents(store, kill, batch_id=1)


def test_forget_documents_audits_skipped_on_batch_id_collision(
    spark, tmp_path
):
    """ADVICE r12 (medium): a forget whose batch_id was already
    committed by a BUILD batch must not record a fulfilled erasure —
    the audit row says Skipped with rows_written=0, and no tombstone
    lands."""
    from fabric_claims_spark.operators.serving_index import (
        LEXICAL,
        apply_lexical_batch,
        read_lexical_index,
        read_tombstones,
    )
    from fabric_claims_spark.plans.governance import forget_documents
    from fabric_claims_spark.sources.audit import AUDIT_TABLE
    from fabric_claims_spark.sources.merge import TableStore
    from fabric_claims_spark.sources.parquet import load_table

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    store = TableStore(spark, str(tmp_path / "idx"))
    apply_lexical_batch(store, docs, 0)

    kill = docs.where(F.pmod("doc_id", F.lit(7)) == 3).select("doc_id")
    # batch_id 0 collides with the committed build batch
    out = forget_documents(store, kill, batch_id=0)
    assert out == {"lexical": 0}
    assert read_tombstones(store, LEXICAL).count() == 0
    td, _, _ = read_lexical_index(store)
    assert td.join(kill, "doc_id", "left_semi").count() > 0  # NOT erased

    audit = store.read(AUDIT_TABLE).where(
        F.col("PipelineName") == "gdpr_erasure"
    )
    rows = audit.collect()
    assert len(rows) == 1
    assert rows[0]["Status"] == "Skipped"
    assert rows[0]["RowsWritten"] == 0

    # a fresh monotonic id then really erases, audited Succeeded
    out2 = forget_documents(store, kill, batch_id=1)
    assert out2["lexical"] > 0
    td2, _, _ = read_lexical_index(store)
    assert td2.join(kill, "doc_id", "left_semi").count() == 0
    statuses = sorted(
        r["Status"]
        for r in store.read(AUDIT_TABLE)
        .where(F.col("PipelineName") == "gdpr_erasure")
        .collect()
    )
    assert statuses == ["Skipped", "Succeeded"]


def test_apply_lexical_deletes_raises_on_stale_batch_id(spark, tmp_path):
    """ADVICE r12: a delete batch_id strictly below the df rollup's
    watermark (and not committed) would land tombstones while the df
    decrement silently no-ops — the operator must refuse."""
    import pytest as _pytest

    from fabric_claims_spark.operators.serving_index import (
        apply_lexical_batch,
        apply_lexical_deletes,
    )
    from fabric_claims_spark.sources.merge import TableStore
    from fabric_claims_spark.sources.parquet import load_table

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    store = TableStore(spark, str(tmp_path / "idx"))
    apply_lexical_batch(store, docs.where(F.col("doc_id") % 2 == 0), 0)
    apply_lexical_batch(store, docs.where(F.col("doc_id") % 2 == 1), 4)

    kill = docs.where(F.pmod("doc_id", F.lit(7)) == 3).select("doc_id")
    with _pytest.raises(ValueError, match="below"):
        apply_lexical_deletes(store, kill, 2)  # 2 < watermark 4, uncommitted
