"""Streaming corpus ingest with incremental dedup: only genuinely new
documents reach the store; drained re-runs and redelivered batches
change nothing."""

from pyspark.sql import functions as F

from fabric_claims_spark.streaming.corpus_stream import (
    INGEST_BATCH_COL,
    corpus_ingest_stream,
)

BASE_A = "the quick brown fox jumps over the lazy dog again and again " * 4
BASE_B = "pack my box with five dozen liquor jugs every single day now " * 4
BASE_C = "sphinx of black quartz judge my vow said the typing tutor app " * 4
BASE_D = "how vexingly quick daft zebras jump over the sleeping guards " * 4


def _write_batches(spark, docs_dir):
    rows_by_file = [
        [(1, BASE_A), (2, BASE_B)],
        [
            (3, BASE_A),                       # exact dup of stored 1
            (4, BASE_B + "tiny suffix here"),  # near dup of stored 2
            (5, BASE_C),                       # new
        ],
        [
            (6, BASE_C),  # exact dup of stored 5
            (7, BASE_D),  # new
            (8, BASE_D),  # intra-batch exact dup of 7 — collapses
        ],
    ]
    for i, rows in enumerate(rows_by_file):
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.parquet(str(docs_dir), mode="append")
        # one file per append → one micro-batch per file (modulo
        # file-listing order, which only affects which doc of an
        # exact-dup pair survives, not the count)
    return rows_by_file


def test_corpus_ingest_dedups_across_batches(spark, tmp_path):
    docs_dir = tmp_path / "docs"
    _write_batches(spark, docs_dir)
    got = corpus_ingest_stream(
        spark,
        str(docs_dir),
        str(tmp_path / "ckpt"),
        str(tmp_path / "store"),
        threshold=0.5,
    )
    ids = sorted(r["doc_id"] for r in got.select("doc_id").collect())
    # one survivor per content family: A, B, C, D
    assert len(ids) == 4
    texts = {r["text"] for r in got.collect()}
    assert BASE_A in texts and BASE_B in texts
    assert BASE_C in texts and BASE_D in texts
    assert INGEST_BATCH_COL not in got.columns


def test_corpus_ingest_rerun_is_noop(spark, tmp_path):
    docs_dir = tmp_path / "docs"
    _write_batches(spark, docs_dir)
    first = corpus_ingest_stream(
        spark,
        str(docs_dir),
        str(tmp_path / "ckpt"),
        str(tmp_path / "store"),
        threshold=0.5,
    )
    n = first.count()
    # re-run with the same checkpoint: no new files → no new batches;
    # the store must be byte-identical
    again = corpus_ingest_stream(
        spark,
        str(docs_dir),
        str(tmp_path / "ckpt"),
        str(tmp_path / "store"),
        threshold=0.5,
    )
    assert again.count() == n


def test_corpus_ingest_redelivery_skipped(spark, tmp_path):
    """Simulated at-least-once redelivery: replaying an already-
    committed batch id against the store must be a no-op (the marker
    committed atomically with the data gates the append), while a
    genuinely new batch id still folds."""
    from fabric_claims_spark.sources.merge import TableStore
    from fabric_claims_spark.streaming.corpus_stream import ingest_batch

    store = TableStore(spark, str(tmp_path / "store"))
    b0 = spark.createDataFrame([(1, BASE_A), (2, BASE_B)], "doc_id long, text string")
    assert ingest_batch(store, "corpus", b0, 0) is True
    before = store.read("corpus").count()
    # redeliver the SAME batch id (crash between sink and checkpoint
    # commit) — must refuse and leave the store untouched
    assert ingest_batch(store, "corpus", b0, 0) is False
    assert store.read("corpus").count() == before
    # a stale id below the watermark also refuses
    b1 = spark.createDataFrame([(9, BASE_C)], "doc_id long, text string")
    assert ingest_batch(store, "corpus", b1, 0) is False
    assert store.read("corpus").count() == before
    # the next id folds, and only the genuinely new doc lands
    b2 = spark.createDataFrame(
        [(10, BASE_A), (11, BASE_D)], "doc_id long, text string"
    )
    assert ingest_batch(store, "corpus", b2, 1) is True
    after = store.read("corpus")
    assert after.count() == before + 1
    assert after.where(F.col("doc_id") == 11).count() == 1


SF = "/root/testdata/sf0.001"


def _tear_last_commit(ckpt: str) -> None:
    """Delete the newest commits/<n> while keeping offsets/<n> — the
    exact on-disk state of a crash between the foreachBatch sink and
    the checkpoint commit; restart redelivers the same batch_id."""
    import os

    commits = sorted(
        f
        for f in os.listdir(os.path.join(ckpt, "commits"))
        if not f.startswith(".")
    )
    os.remove(os.path.join(ckpt, "commits", commits[-1]))
    # the local-FS checksum sidecar must go too, or the redelivered
    # batch's commit rename collides with the stale .crc
    crc = os.path.join(ckpt, "commits", f".{commits[-1]}.crc")
    if os.path.exists(crc):
        os.remove(crc)


def test_dsir_monitor_stream_matches_batch(spark, tmp_path):
    """Streaming DSIR weights: after one availableNow pass over the
    seeded corpus the stream's output equals the batch query
    row-for-row (shared scoring core — equality proves the folded
    counts are right); a torn commit must not double-fold."""
    import shutil

    from fabric_claims_spark.queries import load_all_queries
    from fabric_claims_spark.streaming.corpus_stream import (
        dsir_monitor_stream,
    )

    docs_dir = tmp_path / "docs"
    docs_dir.mkdir()
    shutil.copy(f"{SF}/documents.parquet", docs_dir / "batch1.parquet")

    ckpt = str(tmp_path / "ckpt_dsir")
    out = dsir_monitor_stream(spark, str(docs_dir), ckpt, query_name="t_d")
    batch = load_all_queries()["docs_dsir_weights"].fn(spark, SF)
    assert [tuple(r) for r in out.collect()] == [
        tuple(r) for r in batch.collect()
    ]

    _tear_last_commit(ckpt)
    out2 = dsir_monitor_stream(spark, str(docs_dir), ckpt, query_name="t_d")
    assert [tuple(r) for r in out2.collect()] == [
        tuple(r) for r in batch.collect()
    ]


def test_dsir_monitor_global_weights_shift_on_target_arrival(
    spark, tmp_path
):
    """The non-incremental-by-design semantics: a later micro-batch
    of TARGET documents shifts the llr table, so weights of docs from
    EARLIER batches change on the next read — a relative-likelihood
    score must move when the target distribution estimate moves. The
    rollup state itself stays |docs| x B bounded."""
    import shutil

    from fabric_claims_spark.streaming.corpus_stream import (
        dsir_monitor_stream,
    )

    docs_dir = tmp_path / "docs"
    docs_dir.mkdir()
    shutil.copy(f"{SF}/documents.parquet", docs_dir / "batch1.parquet")
    ckpt = str(tmp_path / "ckpt_dsir2")
    first = {
        r["doc_id"]: r["log_weight"]
        for r in dsir_monitor_stream(
            spark, str(docs_dir), ckpt, query_name="t_d2"
        ).collect()
    }

    # a target-source batch with a skewed token distribution — built
    # OUTSIDE the watched dir, then dropped in as one flat file (the
    # file stream source tracks files, not nested directories)
    import glob

    side = tmp_path / "side"
    spark.createDataFrame(
        [
            (10_000 + i, "join join join shuffle shuffle agg", "en", "src0", 35)
            for i in range(50)
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.parquet(str(side), mode="overwrite")
    shutil.copy(
        glob.glob(str(side / "part-*.parquet"))[0],
        docs_dir / "batch2.parquet",
    )
    second = {
        r["doc_id"]: r["log_weight"]
        for r in dsir_monitor_stream(
            spark, str(docs_dir), ckpt, query_name="t_d2"
        ).collect()
    }
    old_ids = set(first)
    assert set(second) > old_ids  # new docs scored too
    changed = [i for i in old_ids if second[i] != first[i]]
    assert changed, "target arrival must shift existing weights"


def test_lexical_index_stream_matches_oneshot(spark, tmp_path):
    """Streaming serving-index maintenance: draining the corpus file
    by file must leave EXACTLY the index a one-shot apply over the
    full corpus builds (postings, df rollup, doc lengths — compared
    as sorted row sets), and a torn commit must not double-fold the
    df rollup or duplicate postings."""
    import shutil

    from fabric_claims_spark.operators.serving_index import (
        apply_lexical_batch,
        read_lexical_index,
    )
    from fabric_claims_spark.sources.merge import TableStore
    from fabric_claims_spark.streaming.corpus_stream import index_stream

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    # two files -> two micro-batches
    docs_dir = tmp_path / "docs"
    docs_dir.mkdir()
    half = docs.where(F.col("doc_id") % 2 == 0)
    other = docs.where(F.col("doc_id") % 2 == 1)
    for name, part in (("a", half), ("b", other)):
        side = tmp_path / f"side_{name}"
        part.coalesce(1).write.parquet(str(side))
        import glob

        shutil.copy(
            glob.glob(str(side / "part-*.parquet"))[0],
            docs_dir / f"{name}.parquet",
        )

    ckpt = str(tmp_path / "ckpt_lex")
    td, dfc, dn = index_stream(
        spark, str(docs_dir), ckpt, str(tmp_path / "store_s"), "lexical"
    )

    one = TableStore(spark, str(tmp_path / "store_1"))
    apply_lexical_batch(one, docs, 0)
    td1, dfc1, dn1 = read_lexical_index(one)

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    assert rows(td) == rows(td1)
    assert rows(dfc) == rows(dfc1)
    assert rows(dn) == rows(dn1)

    # torn commit: redelivered batch folds nothing twice
    _tear_last_commit(ckpt)
    td2, dfc2, dn2 = index_stream(
        spark, str(docs_dir), ckpt, str(tmp_path / "store_s"), "lexical"
    )
    assert rows(td2) == rows(td1)
    assert rows(dfc2) == rows(dfc1)
    assert rows(dn2) == rows(dn1)


def test_lsh_index_stream_matches_oneshot_and_survives_tear(
    spark, tmp_path
):
    """Streaming LSH-index maintenance over the planted near-dup
    corpus: the streamed pair table must equal a one-shot apply over
    the full corpus (same order-independent pair SET — every doc
    family lands in one batch here, so incremental capping cannot
    diverge), and a torn commit must not duplicate pairs."""
    import glob
    import shutil

    from fabric_claims_spark.operators.serving_index import (
        apply_lsh_batch,
        read_lsh_pairs,
    )
    from fabric_claims_spark.sources.merge import TableStore
    from fabric_claims_spark.streaming.corpus_stream import index_stream

    rows = [
        (1, BASE_A),
        (2, BASE_B),
        (3, BASE_A + " tail"),
        (4, BASE_C),
        (5, BASE_B + " tiny suffix"),
        (6, BASE_D),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    docs_dir = tmp_path / "docs"
    docs_dir.mkdir()
    for name, pred in (("a", F.col("doc_id") <= 3), ("b", F.col("doc_id") > 3)):
        side = tmp_path / f"side_{name}"
        docs.where(pred).coalesce(1).write.parquet(str(side))
        shutil.copy(
            glob.glob(str(side / "part-*.parquet"))[0],
            docs_dir / f"{name}.parquet",
        )

    ckpt = str(tmp_path / "ckpt_lsh")
    got = index_stream(
        spark, str(docs_dir), ckpt, str(tmp_path / "store_s"), "lsh"
    )

    one = TableStore(spark, str(tmp_path / "store_1"))
    apply_lsh_batch(one, docs, 0)
    want = read_lsh_pairs(one)

    def pairs(df):
        return sorted(tuple(r) for r in df.collect())

    assert pairs(got) == pairs(want)
    # the planted near-dups are actually in there
    found = {(r["doc_a"], r["doc_b"]) for r in got.collect()}
    assert (1, 3) in found and (2, 5) in found

    _tear_last_commit(ckpt)
    again = index_stream(
        spark, str(docs_dir), ckpt, str(tmp_path / "store_s"), "lsh"
    )
    assert pairs(again) == pairs(want)


def test_ivf_index_stream_matches_oneshot_and_survives_tear(
    spark, tmp_path
):
    """Streaming IVF-index maintenance: the streamed assignment table
    must equal a one-shot apply over all vectors (the quantizer is
    FIXED, so per-vector assignment is batch-independent by
    construction — this pins that the plumbing preserves it), and a
    torn commit must not duplicate rows."""
    import glob
    import shutil

    from fabric_claims_spark.operators.serving_index import (
        apply_ivf_batch,
        read_ivf_index,
    )
    from fabric_claims_spark.sources.merge import TableStore
    from fabric_claims_spark.streaming.corpus_stream import index_stream

    rows = [
        (i, [float((i * 7 + j * 3) % 11) for j in range(4)])
        for i in range(1, 13)
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cent = spark.createDataFrame(
        [(1, [1.0, 3.0, 6.0, 9.0]), (2, [8.0, 0.0, 3.0, 6.0])],
        "centroid_id long, cv array<double>",
    )
    vecs_dir = tmp_path / "vecs"
    vecs_dir.mkdir()
    for name, pred in (("a", F.col("vec_id") <= 6), ("b", F.col("vec_id") > 6)):
        side = tmp_path / f"vside_{name}"
        vecs.where(pred).coalesce(1).write.parquet(str(side))
        shutil.copy(
            glob.glob(str(side / "part-*.parquet"))[0],
            vecs_dir / f"{name}.parquet",
        )

    ckpt = str(tmp_path / "ckpt_ivf")
    got = index_stream(
        spark, str(vecs_dir), ckpt, str(tmp_path / "vstore_s"), "ivf",
        centroids=cent,
    )

    one = TableStore(spark, str(tmp_path / "vstore_1"))
    apply_ivf_batch(one, vecs, 0, cent)
    want = read_ivf_index(one)

    def asg(df):
        return sorted(
            (r["vec_id"], r["assigned_centroid"], r["centroid_sim"])
            for r in df.collect()
        )

    assert asg(got) == asg(want)
    assert len(asg(got)) == 12  # every vector exactly once

    _tear_last_commit(ckpt)
    again = index_stream(
        spark, str(vecs_dir), ckpt, str(tmp_path / "vstore_s"), "ivf",
        centroids=cent,
    )
    assert asg(again) == asg(want)


def test_dsir_pipeline_stream_matches_batch(spark, tmp_path):
    """Streaming end-to-end DSIR selection: after an availableNow
    pass over the seeded corpus (split across two files), the
    stream's mixture equals the batch docs_dsir_pipeline row-for-row
    — the selection stages are the shared dsir_select_from_weights,
    so equality proves the folded count AND source states are right.
    A torn commit must not double-fold."""
    import shutil

    from fabric_claims_spark.queries import load_all_queries
    from fabric_claims_spark.streaming.corpus_stream import (
        dsir_pipeline_stream,
    )

    import glob

    docs_dir = tmp_path / "docs"
    docs_dir.mkdir()
    full = spark.read.parquet(f"{SF}/documents.parquet")
    for name, pred in (
        ("a", F.pmod("doc_id", F.lit(2)) == 0),
        ("b", F.pmod("doc_id", F.lit(2)) == 1),
    ):
        side = tmp_path / f"dside_{name}"
        full.where(pred).coalesce(1).write.parquet(str(side))
        shutil.copy(
            glob.glob(str(side / "part-*.parquet"))[0],
            docs_dir / f"{name}.parquet",
        )

    ckpt = str(tmp_path / "ckpt_dsirp")
    out = dsir_pipeline_stream(spark, str(docs_dir), ckpt, query_name="t_dp")
    batch = load_all_queries()["docs_dsir_pipeline"].fn(spark, SF)
    want = [tuple(r) for r in batch.collect()]
    assert [tuple(r) for r in out.collect()] == want

    _tear_last_commit(ckpt)
    out2 = dsir_pipeline_stream(
        spark, str(docs_dir), ckpt, query_name="t_dp"
    )
    assert [tuple(r) for r in out2.collect()] == want


def test_positional_index_stream_matches_oneshot(spark, tmp_path):
    """Streaming positional-index maintenance: draining the corpus
    file by file must leave EXACTLY the positions a one-shot apply
    builds — the phrase-serving state is partitioning-independent."""
    import glob
    import shutil

    from fabric_claims_spark.operators.serving_index import (
        apply_positional_batch,
        read_positional_index,
    )
    from fabric_claims_spark.sources.merge import TableStore
    from fabric_claims_spark.streaming.corpus_stream import index_stream

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    docs_dir = tmp_path / "docs"
    docs_dir.mkdir()
    for name, part in (
        ("a", docs.where(F.col("doc_id") % 2 == 0)),
        ("b", docs.where(F.col("doc_id") % 2 == 1)),
    ):
        side = tmp_path / f"side_{name}"
        part.coalesce(1).write.parquet(str(side))
        shutil.copy(
            glob.glob(str(side / "part-*.parquet"))[0],
            docs_dir / f"{name}.parquet",
        )

    streamed = index_stream(
        spark,
        str(docs_dir),
        str(tmp_path / "ckpt_pos"),
        str(tmp_path / "store_s"),
        "positional",
    )
    one = TableStore(spark, str(tmp_path / "store_1"))
    apply_positional_batch(one, docs, 0)
    want = {tuple(r) for r in read_positional_index(one).collect()}
    assert {tuple(r) for r in streamed.collect()} == want


def test_corpus_mutation_stream_adds_and_deletes_in_order(
    spark, tmp_path
):
    """Round 12: one CDC-shaped mutation log drives builds AND
    erasures through a single checkpointed stream. Draining three
    files — adds; adds + a delete of earlier docs; a delete-only
    batch including a doc added in the SAME file's predecessor — must
    leave exactly the batch-path state: a fresh build over the
    surviving documents. A torn final commit (crash between sink and
    checkpoint) redelivers the delete micro-batch; the sub-id split
    (2b adds / 2b+1 deletes) makes both legs no-op."""
    import glob
    import shutil

    from fabric_claims_spark.operators.serving_index import (
        apply_lexical_batch,
        apply_lexical_deletes,
        read_lexical_index,
    )
    from fabric_claims_spark.sources.merge import TableStore
    from fabric_claims_spark.streaming.corpus_stream import (
        corpus_mutation_stream,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    evens = docs.where(F.col("doc_id") % 2 == 0)
    odds = docs.where(F.col("doc_id") % 2 == 1)
    # mutation files: (1) add evens; (2) add odds + delete evens%3==0;
    # (3) delete odds%3==0 (docs added by the PREVIOUS batch)
    kill1 = evens.where(F.col("doc_id") % 3 == 0).select("doc_id")
    kill2 = odds.where(F.col("doc_id") % 3 == 0).select("doc_id")
    f1 = evens.withColumn("op", F.lit("add"))
    f2 = odds.withColumn("op", F.lit("add")).unionByName(
        kill1.select(
            "doc_id", F.lit(None).cast("string").alias("text"),
            F.lit("del").alias("op"),
        )
    )
    f3 = kill2.select(
        "doc_id", F.lit(None).cast("string").alias("text"),
        F.lit("del").alias("op"),
    )
    mut_dir = tmp_path / "mut"
    mut_dir.mkdir()
    for name, part in (("a", f1), ("b", f2), ("c", f3)):
        side = tmp_path / f"mside_{name}"
        part.coalesce(1).write.parquet(str(side))
        shutil.copy(
            glob.glob(str(side / "part-*.parquet"))[0],
            mut_dir / f"{name}.parquet",
        )

    ckpt = str(tmp_path / "ckpt_mut")
    td, dfc, dn = corpus_mutation_stream(
        spark,
        str(mut_dir),
        ckpt,
        str(tmp_path / "store_m"),
        families=("lexical", "positional", "lsh"),
    )

    # batch-path truth: build everything, erase both kill sets
    one = TableStore(spark, str(tmp_path / "store_t"))
    apply_lexical_batch(one, docs, 0)
    apply_lexical_deletes(one, kill1.unionByName(kill2), 1)
    td1, dfc1, dn1 = read_lexical_index(one)

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    assert rows(td) == rows(td1)
    assert rows(dfc) == rows(dfc1)
    assert rows(dn) == rows(dn1)

    # the co-maintained families saw the same erasures
    from fabric_claims_spark.operators.serving_index import (
        positional_postings,
        read_lsh_pairs,
        read_positional_index,
    )

    kills = kill1.unionByName(kill2)
    store_m = TableStore(spark, str(tmp_path / "store_m"))
    assert rows(read_positional_index(store_m)) == rows(
        positional_postings(
            docs.join(kills, "doc_id", "left_anti")
        )
    )
    pairs = read_lsh_pairs(store_m)
    for side in ("doc_a", "doc_b"):
        assert (
            pairs.join(
                kills.withColumnRenamed("doc_id", side), side, "left_semi"
            ).count() == 0
        ), side

    # torn final (delete-only) micro-batch: redelivery changes nothing
    _tear_last_commit(ckpt)
    td2, dfc2, dn2 = corpus_mutation_stream(
        spark,
        str(mut_dir),
        ckpt,
        str(tmp_path / "store_m"),
        families=("lexical", "positional", "lsh"),
    )
    assert rows(td2) == rows(td1)
    assert rows(dfc2) == rows(dfc1)
    assert rows(dn2) == rows(dn1)


def test_embedding_mutation_stream_matches_batch_with_erasure(
    spark, tmp_path
):
    """Round 13 (VERDICT r12 item 3): the vector family joins the CDC
    mutation feed. Draining three files — add evens; add odds +
    delete evens%3==0; a delete-only file erasing odds%3==0 (vectors
    added by the PREVIOUS micro-batch) — must leave exactly the
    batch-path state (one apply + one delete over the same sets),
    with the doc→vec mapping live only for survivors. A torn final
    delete-only commit redelivers under the 2b/2b+1 discipline and
    changes nothing."""
    import glob
    import shutil

    from fabric_claims_spark.operators.serving_index import (
        apply_ivf_batch,
        apply_ivf_deletes,
        read_ivf_docmap,
        read_ivf_index,
    )
    from fabric_claims_spark.sources.merge import TableStore
    from fabric_claims_spark.streaming.corpus_stream import (
        embedding_mutation_stream,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id",
        "embedding",
        # deterministic doc association for the docmap leg
        (F.col("vec_id") % 37).alias("doc_id"),
    )
    seed = spark.read.parquet(f"{SF}/embeddings.parquet").where(
        F.col("vec_id") < 8
    ).select(
        F.col("vec_id").alias("centroid_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("cv"),
    )
    evens = emb.where(F.col("vec_id") % 2 == 0)
    odds = emb.where(F.col("vec_id") % 2 == 1)
    kill1 = evens.where(F.col("vec_id") % 3 == 0).select("vec_id")
    kill2 = odds.where(F.col("vec_id") % 3 == 0).select("vec_id")

    null_add = (
        F.lit(None).cast("array<float>").alias("embedding"),
        F.lit(None).cast("long").alias("doc_id"),
    )
    f1 = evens.withColumn("op", F.lit("add"))
    f2 = odds.withColumn("op", F.lit("add")).unionByName(
        kill1.select("vec_id", *null_add, F.lit("del").alias("op"))
    )
    f3 = kill2.select("vec_id", *null_add, F.lit("del").alias("op"))
    mut_dir = tmp_path / "emut"
    mut_dir.mkdir()
    for name, part in (("a", f1), ("b", f2), ("c", f3)):
        side = tmp_path / f"eside_{name}"
        part.coalesce(1).write.parquet(str(side))
        shutil.copy(
            glob.glob(str(side / "part-*.parquet"))[0],
            mut_dir / f"{name}.parquet",
        )

    ckpt = str(tmp_path / "ckpt_emut")
    got = embedding_mutation_stream(
        spark, str(mut_dir), ckpt, str(tmp_path / "estore"), seed,
        doc_col="doc_id",
    )

    # batch-path truth
    one = TableStore(spark, str(tmp_path / "estore_t"))
    apply_ivf_batch(one, emb, 0, seed, doc_col="doc_id")
    kills = kill1.unionByName(kill2)
    apply_ivf_deletes(one, kills, 1)
    want = read_ivf_index(one)

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    assert rows(got.select("vec_id", "assigned_centroid", "centroid_sim")) == rows(
        want.select("vec_id", "assigned_centroid", "centroid_sim")
    )
    # the docmap masked the erased vectors too
    streamed_store = TableStore(spark, str(tmp_path / "estore"))
    dm = read_ivf_docmap(streamed_store)
    assert rows(dm) == rows(read_ivf_docmap(one))
    assert (
        dm.join(kills, "vec_id", "left_semi").count() == 0
    )

    # torn final (delete-only) micro-batch: redelivery is a no-op
    _tear_last_commit(ckpt)
    got2 = embedding_mutation_stream(
        spark, str(mut_dir), ckpt, str(tmp_path / "estore"), seed,
        doc_col="doc_id",
    )
    assert rows(
        got2.select("vec_id", "assigned_centroid", "centroid_sim")
    ) == rows(want.select("vec_id", "assigned_centroid", "centroid_sim"))
