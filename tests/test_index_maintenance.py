"""IndexMaintenance (pipeline/runner.py, round 13 — VERDICT r12
item 2): the serving stores' three cadenced policies — tombstone
folds, file-count compaction, skew-triggered IVF rebuild — run as one
audited post-apply hook. Each decision appends one audit row (the
reading, fired-or-held, rows moved) and the fired actions must leave
the reader views exactly where the standalone operators do."""

import pytest
from pyspark.sql import functions as F

from fabric_claims_spark.operators.serving_index import (
    LEXICAL,
    apply_ivf_batch,
    apply_lexical_batch,
    apply_lexical_deletes,
    ivf_bucket_skew,
    read_ivf_centroids,
    read_ivf_index,
    read_lexical_index,
    read_tombstones,
)
from fabric_claims_spark.pipeline.runner import IndexMaintenance
from fabric_claims_spark.sources.audit import AUDIT_TABLE
from fabric_claims_spark.sources.merge import TableStore
from fabric_claims_spark.sources.parquet import load_table

SF = "/root/testdata/sf0.001"


def _audit_rows(store, action_prefix):
    """(TargetObject, Status, RowsWritten) in decision order."""
    rows = (
        store.read(AUDIT_TABLE)
        .where(F.col("PipelineName") == "index_maintenance")
        .orderBy("FinishedAtUTC")
        .collect()
    )
    return [
        (r["TargetObject"], r["Status"], r["RowsWritten"])
        for r in rows
        if r["TargetObject"].startswith(action_prefix)
    ]


def test_tombstoned_lexical_store_folds_at_cadence(spark, tmp_path):
    """A store with committed tombstones folds on the maintenance
    pass (one Fired audit row with the dropped count); the next pass
    holds (tombstones=0) — and the folded reader state equals the
    fresh build over survivors."""
    docs = load_table(spark, SF, "documents")
    store = TableStore(spark, str(tmp_path / "lex"))
    apply_lexical_batch(store, docs, 0)
    dels = docs.where(F.col("doc_id") % 5 == 2).select("doc_id")
    apply_lexical_deletes(store, dels, 1)
    assert read_tombstones(store, LEXICAL).count() > 0

    maint = IndexMaintenance(store, compact_file_threshold=10_000)
    out = maint.run_post_apply()
    assert out["fold:lexical"]["fired"] is True
    assert out["fold:lexical"]["rows_dropped"] > 0
    assert read_tombstones(store, LEXICAL).count() == 0

    # folded state == fresh build over survivors
    survivors = docs.where(F.col("doc_id") % 5 != 2)
    fresh = TableStore(spark, str(tmp_path / "fresh"))
    apply_lexical_batch(fresh, survivors, 0)
    td, dfc, dn = read_lexical_index(store)
    ftd, fdfc, fdn = read_lexical_index(fresh)
    assert {tuple(r) for r in td.collect()} == {
        tuple(r) for r in ftd.collect()
    }
    assert {tuple(r) for r in dfc.collect()} == {
        tuple(r) for r in fdfc.collect()
    }
    assert {tuple(r) for r in dn.collect()} == {
        tuple(r) for r in fdn.collect()
    }

    # audit: exactly one Fired fold row; compactions Held (no churn)
    folds = _audit_rows(store, "fold:lexical")
    assert len(folds) == 1 and folds[0][1] == "Fired"
    assert folds[0][2] == out["fold:lexical"]["rows_dropped"]
    for obj, status, rows in _audit_rows(store, "compact:"):
        assert status == "Held" and rows == 0, obj

    out2 = maint.run_post_apply()
    assert out2["fold:lexical"]["fired"] is False
    folds2 = _audit_rows(store, "fold:lexical")
    assert [s for _, s, _ in folds2] == ["Fired", "Held"]


def test_drifted_ivf_store_rebuilds_exactly_once_with_audit(
    spark, tmp_path
):
    """The skew policy through the scheduler: a healthy store logs a
    Held decision (store untouched); after a drifted increment one
    maintenance pass fires exactly one rebuild (quantizer published,
    one Fired audit row carrying the skew reading)."""
    emb = load_table(spark, SF, "embeddings")
    seed = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("cv"),
    )
    store = TableStore(spark, str(tmp_path / "ivf"))
    apply_ivf_batch(store, emb.where(F.col("vec_id") < 300), 0, seed)
    skew0 = ivf_bucket_skew(store, k=8)

    maint = IndexMaintenance(
        store,
        compact_file_threshold=10_000,
        ivf_skew_threshold=skew0 * 1.001,
        ivf_k=8,
        ivf_iters=2,
    )
    out = maint.run_post_apply()
    assert out["rebuild:ivf"] == {"fired": False, "skew": skew0}
    assert read_ivf_centroids(store).count() == 0  # untouched

    drifted = emb.where(F.col("vec_id") >= 300).select(
        "vec_id",
        "label",
        F.transform(
            "embedding", lambda x: F.lit(1.0).cast("float")
        ).alias("embedding"),
    )
    apply_ivf_batch(store, drifted, 1, seed)
    skew1 = ivf_bucket_skew(store, k=8)
    assert skew1 > skew0

    out2 = maint.run_post_apply()
    assert out2["rebuild:ivf"]["fired"] is True
    assert out2["rebuild:ivf"]["skew"] == skew1
    assert read_ivf_centroids(store).count() == 8  # exactly one rebuild
    assert read_ivf_index(store).count() == emb.count()

    rows = _audit_rows(store, "rebuild:ivf")
    assert [s for _, s, _ in rows] == ["Held", "Fired"]
    # the Fired row carries the measured skew and the threshold
    fired_obj = rows[1][0]
    assert f"skew={skew1:.3f}" in fired_obj and "threshold=" in fired_obj


def test_ivf_without_quantizer_state_holds_visibly(spark, tmp_path):
    """No stored quantizer and no configured ivf_k: the rebuild
    policy cannot measure skew — it must log a Held decision naming
    the reason, not raise and wedge the scheduler."""
    emb = load_table(spark, SF, "embeddings")
    seed = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("cv"),
    )
    store = TableStore(spark, str(tmp_path / "ivf"))
    apply_ivf_batch(store, emb.where(F.col("vec_id") < 100), 0, seed)

    out = IndexMaintenance(
        store, compact_file_threshold=10_000
    ).run_post_apply()
    assert out["rebuild:ivf"] == {"fired": False, "skew": None}
    rows = _audit_rows(store, "rebuild:ivf")
    assert len(rows) == 1 and rows[0][1] == "Held"
    assert "no k" in rows[0][0]


def test_compaction_fires_through_scheduler_and_preserves_readers(
    spark, tmp_path
):
    """Increment-heavy store over the file threshold: the scheduler
    compacts (Fired audit row with the file reading) and the reader
    view is bit-identical across the fire."""
    docs = load_table(spark, SF, "documents")
    store = TableStore(spark, str(tmp_path / "lex"))
    for b in range(4):
        apply_lexical_batch(
            store, docs.where(F.pmod("doc_id", F.lit(4)) == b), b
        )
    td, dfc, dn = read_lexical_index(store)
    before = (
        sorted(tuple(r) for r in td.collect()),
        sorted(tuple(r) for r in dfc.collect()),
        sorted(tuple(r) for r in dn.collect()),
    )

    out = IndexMaintenance(
        store, compact_file_threshold=2, compact_n_files=1
    ).run_post_apply()
    fired = [k for k, v in out.items() if k.startswith("compact:") and v["fired"]]
    assert fired  # at least the postings table crossed the threshold
    for key in fired:
        assert out[key]["files"] >= 2

    td2, dfc2, dn2 = read_lexical_index(store)
    after = (
        sorted(tuple(r) for r in td2.collect()),
        sorted(tuple(r) for r in dfc2.collect()),
        sorted(tuple(r) for r in dn2.collect()),
    )
    assert after == before
    assert any(s == "Fired" for _, s, _ in _audit_rows(store, "compact:"))


def test_next_batch_id_clears_every_family_high_water(spark, tmp_path):
    """next_batch_id: 0 on a virgin store; above the lexical build
    and delete ids after they commit; above the IVF ids too (the max
    spans every family's commit table) — so forget_documents'
    default id can never collide."""
    from fabric_claims_spark.operators.serving_index import (
        next_batch_id,
    )
    from fabric_claims_spark.plans.governance import forget_documents
    from fabric_claims_spark.sources.parquet import load_table

    docs = load_table(spark, SF, "documents")
    emb = load_table(spark, SF, "embeddings").select(
        "vec_id", "embedding", (F.col("vec_id") % 37).alias("doc_id")
    )
    seed = load_table(spark, SF, "embeddings").where(
        F.col("vec_id") < 8
    ).select(
        F.col("vec_id").alias("centroid_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("cv"),
    )
    store = TableStore(spark, str(tmp_path / "idx"))
    assert next_batch_id(store) == 0

    apply_lexical_batch(store, docs, 0)
    assert next_batch_id(store) == 1
    apply_ivf_batch(store, emb, 7, seed, doc_col="doc_id")
    assert next_batch_id(store) == 8  # IVF's high-water wins

    # default-id forget: allocates 8, applies everywhere, and a
    # second default-id forget gets 9 (no collision, no Skipped row)
    kill = docs.where(F.col("doc_id") % 5 == 2).select("doc_id")
    out = forget_documents(store, kill)
    assert out["lexical"] > 0 and out["ivf"] >= 0
    assert next_batch_id(store) == 9
    kill2 = docs.where(F.col("doc_id") % 5 == 3).select("doc_id")
    out2 = forget_documents(store, kill2)
    assert out2["lexical"] > 0
    td, _, _ = read_lexical_index(store)
    assert td.join(kill, "doc_id", "left_semi").count() == 0
    assert td.join(kill2, "doc_id", "left_semi").count() == 0


def test_mutation_stream_runs_maintenance_at_cadence(spark, tmp_path):
    """The CDC sink drives the audited maintenance pass every
    maintenance_every micro-batches: tombstones laid down by the
    stream's delete legs are FOLDED by the time the drain finishes,
    the maintenance audit rows exist, and the final reader state
    still equals the batch-path truth (folding is
    reader-transparent)."""
    import glob
    import shutil

    from fabric_claims_spark.operators.serving_index import (
        LEXICAL,
        apply_lexical_deletes,
        read_tombstones,
    )
    from fabric_claims_spark.sources.parquet import load_table
    from fabric_claims_spark.streaming.corpus_stream import (
        corpus_mutation_stream,
    )

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    evens = docs.where(F.col("doc_id") % 2 == 0)
    odds = docs.where(F.col("doc_id") % 2 == 1)
    kill = evens.where(F.col("doc_id") % 3 == 0).select("doc_id")
    f1 = evens.withColumn("op", F.lit("add"))
    f2 = odds.withColumn("op", F.lit("add")).unionByName(
        kill.select(
            "doc_id",
            F.lit(None).cast("string").alias("text"),
            F.lit("del").alias("op"),
        )
    )
    mut_dir = tmp_path / "mut"
    mut_dir.mkdir()
    for name, part in (("a", f1), ("b", f2)):
        side = tmp_path / f"side_{name}"
        part.coalesce(1).write.parquet(str(side))
        shutil.copy(
            glob.glob(str(side / "part-*.parquet"))[0],
            mut_dir / f"{name}.parquet",
        )

    store = TableStore(spark, str(tmp_path / "store"))
    maint = IndexMaintenance(store, compact_file_threshold=10_000)
    td, dfc, dn = corpus_mutation_stream(
        spark,
        str(mut_dir),
        str(tmp_path / "ckpt"),
        str(tmp_path / "store"),
        families=("lexical",),
        maintenance=maint,
        maintenance_every=1,
    )
    # every tombstone the stream laid down has been folded
    assert read_tombstones(store, LEXICAL).count() == 0
    fold_rows = _audit_rows(store, "fold:lexical")
    assert any(s == "Fired" for _, s, _ in fold_rows)

    # reader state == batch truth (fold is reader-transparent)
    one = TableStore(spark, str(tmp_path / "truth"))
    apply_lexical_batch(one, docs, 0)
    apply_lexical_deletes(one, kill, 1)
    td1, dfc1, dn1 = read_lexical_index(one)

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    assert rows(td) == rows(td1)
    assert rows(dfc) == rows(dfc1)
    assert rows(dn) == rows(dn1)


def test_vacuum_pass_reclaims_torn_apply_orphans(spark, tmp_path):
    """vacuum=True: rows appended with a token that never committed
    (the crash-between-append-and-commit state) are reclaimed by the
    maintenance pass with an audit row; committed rows untouched; a
    second pass logs zero orphans."""
    import uuid as _uuid

    from fabric_claims_spark.operators.serving_index import (
        _TOKEN,
        LEX_POSTINGS,
        lexical_postings,
    )
    from fabric_claims_spark.sources.parquet import load_table

    docs = load_table(spark, SF, "documents")
    store = TableStore(spark, str(tmp_path / "lex"))
    apply_lexical_batch(store, docs.where(F.col("doc_id") % 2 == 0), 0)
    committed = store.read(LEX_POSTINGS).count()

    # simulate a torn apply: append with an uncommitted token
    orphan_rows = lexical_postings(
        docs.where(F.col("doc_id") % 2 == 1)
    ).withColumn(_TOKEN, F.lit(_uuid.uuid4().hex))
    store.append(LEX_POSTINGS, orphan_rows)
    n_orphans = orphan_rows.count()
    assert store.read(LEX_POSTINGS).count() == committed + n_orphans
    # reader never saw the orphans
    td, _, _ = read_lexical_index(store)
    assert td.count() == committed

    maint = IndexMaintenance(
        store, compact_file_threshold=10_000, vacuum=True
    )
    out = maint.run_post_apply()
    key = f"vacuum:{LEX_POSTINGS}"
    assert out[key] == {"fired": True, "rows_reclaimed": n_orphans}
    assert store.read(LEX_POSTINGS).count() == committed
    td2, _, _ = read_lexical_index(store)
    assert td2.count() == committed

    out2 = maint.run_post_apply()
    assert out2[key] == {"fired": False, "rows_reclaimed": 0}
    rows = _audit_rows(store, "vacuum:lex_postings")
    assert [s for _, s, _ in rows] == ["Fired", "Held"]
    assert rows[0][2] == n_orphans
