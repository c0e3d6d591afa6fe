"""Serving-index gate queries (VERDICT r7 item 2): the materialized
lexical and LSH indexes (operators/serving_index.py) under the same
DuckDB hash gate as every other operator.

Three claims, each its own query:

* ``lexical_index_maintenance`` — the stored (term, df) rollup after
  a THREE-increment build (with one increment re-delivered) equals the
  one-shot full-corpus df. Increments partition the corpus, df is
  additive, and the fold is idempotent — so the stored state must be
  EXACTLY the full build; the oracle is the plain full-corpus SQL.
* ``docs_hybrid_rrf_served`` — the RRF consumer reading postings /
  df / doc-length from the STORE (built incrementally) fuses the
  identical top-10 the in-plan ``docs_hybrid_rrf_indexed`` fuses;
  the oracle is shared verbatim.
* ``docs_lsh_index_maintenance`` — the stored near-dup pair table
  after corpus + one batch increment equals the incremental-LSH
  semantics spelled out in SQL (corpus-internal pairs, plus
  batch-vs-capped-corpus pairs, plus batch-internal pairs — the exact
  candidate discipline of ``extensions.dedup.incremental_dedup``).
* ``docs_dup_clusters_served`` — the cluster consumer reading the
  STORED pair table (single-increment build == one-shot LSH) produces
  the identical (doc, cluster, size, canonical) frame as
  ``docs_dup_clusters``; oracle shared verbatim.
* ``embeddings_ivf_index_maintenance`` (round 9) — the stored IVF
  assignment after a three-increment build (one redelivered) equals
  the one-shot ``embeddings_ivf_assign``; oracle shared verbatim.
* ``embeddings_ivf_search_served`` (round 9) — the ANN consumer
  probing the STORED assignment fuses the identical top-10 as the
  in-plan ``embeddings_ivf_search``; oracle shared verbatim.

Each query builds its store in a throwaway directory and returns a
``localCheckpoint``-materialized result, so the temp store can be
removed before the frame is consumed.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fabric_claims_spark.extensions.similarity import (
    as_double_array,
    cosine_topk,
    ivf_probe,
)
from fabric_claims_spark.operators.serving_index import (
    apply_ivf_batch,
    apply_lexical_batch,
    apply_lexical_deletes,
    apply_lsh_batch,
    read_ivf_index,
    read_lexical_index,
    read_lsh_pairs,
)
from fabric_claims_spark.localframe import local_frame
from fabric_claims_spark.queries import query
from fabric_claims_spark.queries.lsh import (
    _BANDS,
    _dup_clusters_oracle,
    _INC_MOD,
    _INC_THRESHOLD,
    _NUM_HASHES,
    _sql_mins_cte,
    _sql_shingles_cte,
)
from fabric_claims_spark.queries.similarity import (
    _IVF_ASSIGN_ORACLE,
    _IVF_K,
    _IVF_NPROBE,
    _IVF_SEARCH_ORACLE,
    _IVF_TOPK,
    _RRF_INDEXED_ORACLE,
)
from fabric_claims_spark.sources.merge import TableStore
from fabric_claims_spark.sources.parquet import load_table


@query(
    "lexical_index_maintenance",
    oracle=r"""
    WITH td AS (
      SELECT DISTINCT doc_id,
             unnest(regexp_split_to_array(trim(text), '\s+')) AS term
      FROM documents WHERE length(trim(text)) > 0)
    SELECT term, CAST(COUNT(*) AS BIGINT) AS df
    FROM td GROUP BY term ORDER BY term
    """,
)
def lexical_index_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental == one-shot for the lexical df rollup: the corpus
    arrives as three disjoint pmod(doc_id, 3) increments, increment 1
    is applied twice (at-least-once redelivery must be a no-op), and
    the consumer-visible (term, df) state must hash-equal the plain
    full-corpus aggregate. Each increment costs O(batch) postings work
    plus a vocabulary-sized rollup rewrite — never a corpus re-scan."""
    docs = load_table(spark, sf_dir, "documents")
    work = tempfile.mkdtemp(prefix="lex_idx_")
    try:
        store = TableStore(spark, work)
        for b in range(3):
            batch = docs.where(F.pmod("doc_id", F.lit(3)) == b)
            apply_lexical_batch(store, batch, b)
            if b == 1:  # redelivered increment: exactly-once state
                apply_lexical_batch(store, batch, b)
        _, dfc, _ = read_lexical_index(store)
        return dfc.orderBy("term").localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@query(
    "lexical_index_lifecycle",
    oracle=r"""
    WITH td AS (
      SELECT DISTINCT doc_id,
             unnest(regexp_split_to_array(trim(text), '\s+')) AS term
      FROM documents WHERE length(trim(text)) > 0)
    SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
           CAST(COUNT(*) AS BIGINT) AS df_from_postings
    FROM td GROUP BY term ORDER BY term
    """,
)
def lexical_index_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full serving lifecycle in one oracle-gated row (round 10):
    build incrementally, COMPACT the data tables mid-stream
    (`compact_index_table` — committed rows → one version, tokens
    retained), fold a further increment into the compacted store,
    then read. The hash carries BOTH the maintained df rollup and the
    df recomputed from the compacted-then-extended POSTINGS table —
    both must equal the plain full-corpus aggregate, so a compaction
    that dropped/duplicated a committed row, broke token visibility,
    or disturbed the rollup's idempotence would diverge the hash.
    (Redelivery no-ops are lexical_index_maintenance's claim — this
    gate pays for the compaction path instead.) Oracle shared with
    lexical_index_maintenance (the df column) plus the
    postings-derived twin column."""
    from fabric_claims_spark.operators.serving_index import (
        LEX_COMMITS,
        LEX_DOCLEN,
        LEX_POSTINGS,
        compact_index_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    work = tempfile.mkdtemp(prefix="lex_lc_")
    try:
        store = TableStore(spark, work)
        for b in range(2):
            batch = docs.where(F.pmod("doc_id", F.lit(3)) == b)
            apply_lexical_batch(store, batch, b)
        compact_index_table(store, LEX_POSTINGS, LEX_COMMITS)
        compact_index_table(store, LEX_DOCLEN, LEX_COMMITS)
        apply_lexical_batch(
            store, docs.where(F.pmod("doc_id", F.lit(3)) == 2), 2
        )
        td, dfc, _ = read_lexical_index(store)
        from_postings = td.groupBy("term").agg(
            F.count(F.lit(1)).cast("bigint").alias("df_from_postings")
        )
        return (
            dfc.join(from_postings, "term")
            .select("term", "df", "df_from_postings")
            .orderBy("term")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


@query(
    "lexical_index_deletes",
    oracle=r"""
    WITH td AS (
      SELECT DISTINCT doc_id,
             unnest(regexp_split_to_array(trim(text), '\s+')) AS term
      FROM documents
      WHERE length(trim(text)) > 0 AND doc_id % 7 NOT IN (3, 5)),
    live AS (
      SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS live_docs
      FROM td)
    SELECT s.stage, t.term,
           CAST(COUNT(*) AS BIGINT) AS df,
           CAST(COUNT(*) AS BIGINT) AS df_from_postings,
           MAX(l.live_docs) AS live_docs
    FROM td t
    CROSS JOIN live l
    CROSS JOIN (SELECT unnest(['masked', 'folded']) AS stage) s
    GROUP BY s.stage, t.term
    ORDER BY s.stage, t.term
    """,
)
def lexical_index_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The erasure half of the serving lifecycle (round 12): after a
    single-apply build (multi-increment build + redelivery no-ops
    are ``lexical_index_maintenance``'s claim — this gate pays for
    one apply, the same economy ``embeddings_ivf_search_served``
    documents), TWO erasure increments fold in under the same commit
    protocol — batch 1 erases pmod(doc_id,7)==3, is REDELIVERED
    (must be a no-op), and batch 2 erases pmod(doc_id,7) IN (3,5),
    overlapping batch 1 (the repeat of 3 must not decrement df
    twice). The 'masked' stage reads the store while erased rows are
    merely tombstone-masked; then ``fold_lexical_deletes`` drops the
    bytes and the 'folded' stage re-reads. BOTH stages must
    hash-equal the fresh build over the surviving corpus — df
    (decremented additively at weight -1), the df recomputed from
    postings, and the live doclen count — so a double decrement, a
    resurrection by the fold's swap ordering, or a reader that
    missed the anti-join would each diverge the hash. A term whose
    every doc was erased must VANISH (df=0 filtered), exactly as a
    fresh build never sees it."""
    from fabric_claims_spark.operators.serving_index import (
        apply_lexical_deletes,
        fold_lexical_deletes,
    )

    docs = load_table(spark, sf_dir, "documents")
    work = tempfile.mkdtemp(prefix="lex_del_")

    def _stage(name: str, store) -> DataFrame:
        td, dfc, dn = read_lexical_index(store)
        from_postings = td.groupBy("term").agg(
            F.count(F.lit(1)).cast("bigint").alias("df_from_postings")
        )
        live = dn.agg(
            F.count(F.lit(1)).cast("bigint").alias("live_docs")
        )
        return (
            dfc.join(from_postings, "term")
            .join(F.broadcast(live))
            .select(
                F.lit(name).alias("stage"),
                "term",
                "df",
                "df_from_postings",
                "live_docs",
            )
            .localCheckpoint(eager=True)
        )

    try:
        store = TableStore(spark, work)
        apply_lexical_batch(store, docs, 0)
        kill3 = docs.where(F.pmod("doc_id", F.lit(7)) == 3).select(
            "doc_id"
        )
        apply_lexical_deletes(store, kill3, 1)
        apply_lexical_deletes(store, kill3, 1)  # redelivery: no-op
        kill45 = docs.where(
            F.pmod("doc_id", F.lit(7)).isin(3, 5)
        ).select("doc_id")
        apply_lexical_deletes(store, kill45, 2)  # overlap: no re-dec
        out = _stage("masked", store)
        fold_lexical_deletes(store)
        return out.unionByName(_stage("folded", store)).orderBy(
            "stage", "term"
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


@query("docs_hybrid_rrf_served", oracle=_RRF_INDEXED_ORACLE)
def docs_hybrid_rrf_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The served twin of ``docs_hybrid_rrf_indexed``: identical
    candidate generation, exact scoring, and RRF fusion
    (queries/similarity._rrf_indexed_core — shared verbatim), but the
    posting / df / doc-length frames are READ from a TableStore
    serving index built in two increments instead of derived in-plan.
    In production the store is built once and every query amortizes
    it (SCALING.md "Materialized serving indexes: amortized rerun
    cost");
    the oracle — and therefore the hash — is the in-plan twin's."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    from fabric_claims_spark.queries.similarity import _rrf_indexed_core

    work = tempfile.mkdtemp(prefix="lex_srv_")
    try:
        store = TableStore(spark, work)
        for b in range(2):
            apply_lexical_batch(
                store, docs.where(F.pmod("doc_id", F.lit(2)) == b), b
            )
        td, dfc, dn = read_lexical_index(store)
        return _rrf_indexed_core(td, dfc, dn, emb).localCheckpoint(
            eager=True
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _lsh_maintenance_oracle(
    threshold: float = _INC_THRESHOLD, cap: int = 64
) -> str:
    """Incremental-LSH pair semantics in SQL: corpus-internal pairs
    (one-shot LSH over the corpus increment), batch-vs-corpus pairs
    (batch band keys joined against the CAPPED corpus band table —
    ``incremental_dedup``'s candidate discipline), and batch-internal
    pairs. Mirrors ``apply_lsh_batch`` applied twice: corpus as
    increment 0, batch as increment 1."""
    rows = _NUM_HASHES // _BANDS

    def band_sel(mins: str) -> str:
        return "\n      UNION ALL ".join(
            "SELECT doc, {b} AS band_idx, concat_ws(',', {cols}) AS bk "
            "FROM {m}".format(
                b=b,
                cols=", ".join(f"h{b * rows + i}" for i in range(rows)),
                m=mins,
            )
            for b in range(_BANDS)
        )

    def capped(src: str) -> str:
        return f"""SELECT doc, band_idx, bk FROM (
        SELECT doc, band_idx, bk,
               COUNT(*) OVER (PARTITION BY band_idx, bk) AS bs
        FROM {src})
      WHERE bs <= {cap}"""

    def eq_sum(a: str, b: str) -> str:
        return " + ".join(
            f"CAST({a}.h{i} = {b}.h{i} AS INT)" for i in range(_NUM_HASHES)
        )

    return f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents WHERE doc_id % {_INC_MOD} != 0),
    batch AS (
      SELECT doc_id, text FROM documents WHERE doc_id % {_INC_MOD} = 0),
    {_sql_shingles_cte("corpus", "shc")},
    {_sql_mins_cte("shc", "minsc")},
    {_sql_shingles_cte("batch", "shb")},
    {_sql_mins_cte("shb", "minsb")},
    bandsc AS (
      {band_sel("minsc")}),
    bandsc_capped AS (
      {capped("bandsc")}),
    bandsb AS (
      {band_sel("minsb")}),
    bandsb_capped AS (
      {capped("bandsb")}),
    corpus_cand AS (
      SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
      FROM bandsc_capped a JOIN bandsc_capped b
        ON a.band_idx = b.band_idx AND a.bk = b.bk AND a.doc < b.doc),
    corpus_pairs AS (
      SELECT c.doc_a, c.doc_b,
             CAST({eq_sum("ma", "mb")} AS DOUBLE) / {_NUM_HASHES}
               AS est_jaccard
      FROM corpus_cand c
      JOIN minsc ma ON ma.doc = c.doc_a
      JOIN minsc mb ON mb.doc = c.doc_b),
    batch_cand AS (
      SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
      FROM bandsb_capped a JOIN bandsb_capped b
        ON a.band_idx = b.band_idx AND a.bk = b.bk AND a.doc < b.doc),
    batch_pairs AS (
      SELECT c.doc_a, c.doc_b,
             CAST({eq_sum("ma", "mb")} AS DOUBLE) / {_NUM_HASHES}
               AS est_jaccard
      FROM batch_cand c
      JOIN minsb ma ON ma.doc = c.doc_a
      JOIN minsb mb ON mb.doc = c.doc_b),
    cross_cand AS (
      SELECT DISTINCT b.doc AS bdoc, c.doc AS cdoc
      FROM bandsb b JOIN bandsc_capped c
        ON b.band_idx = c.band_idx AND b.bk = c.bk),
    cross_pairs AS (
      SELECT LEAST(x.bdoc, x.cdoc) AS doc_a,
             GREATEST(x.bdoc, x.cdoc) AS doc_b,
             CAST({eq_sum("ma", "mb")} AS DOUBLE) / {_NUM_HASHES}
               AS est_jaccard
      FROM cross_cand x
      JOIN minsb ma ON ma.doc = x.bdoc
      JOIN minsc mb ON mb.doc = x.cdoc)
    SELECT DISTINCT doc_a, doc_b, est_jaccard FROM (
      SELECT * FROM corpus_pairs WHERE est_jaccard >= {threshold}
      UNION ALL
      SELECT * FROM batch_pairs WHERE est_jaccard >= {threshold}
      UNION ALL
      SELECT * FROM cross_pairs WHERE est_jaccard >= {threshold})
    ORDER BY doc_a, doc_b
    """


@query("docs_lsh_index_maintenance", oracle=_lsh_maintenance_oracle())
def docs_lsh_index_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stored near-dup pair table after an incremental build —
    corpus (pmod(doc_id, _INC_MOD) != 0) as increment 0, the remaining
    batch as increment 1, increment 1 re-delivered once — must equal
    the incremental-LSH semantics the oracle spells out. Per-increment
    cost: O(batch) signatures + band keys, batch-side-only shuffles
    against the stored (bucketed-in-production) band and signature
    tables; the pair table is append-only."""
    docs = load_table(spark, sf_dir, "documents")
    work = tempfile.mkdtemp(prefix="lsh_idx_")
    try:
        store = TableStore(spark, work)
        apply_lsh_batch(
            store,
            docs.where(F.pmod("doc_id", F.lit(_INC_MOD)) != 0),
            0,
            threshold=_INC_THRESHOLD,
            hasher="md5",
        )
        batch = docs.where(F.pmod("doc_id", F.lit(_INC_MOD)) == 0)
        apply_lsh_batch(
            store, batch, 1, threshold=_INC_THRESHOLD, hasher="md5"
        )
        # at-least-once redelivery: must be a no-op
        apply_lsh_batch(
            store, batch, 1, threshold=_INC_THRESHOLD, hasher="md5"
        )
        return (
            read_lsh_pairs(store)
            .distinct()
            .orderBy("doc_a", "doc_b")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


@query("docs_dup_clusters_served", oracle=_dup_clusters_oracle(0.5))
def docs_dup_clusters_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cluster consumer over the STORED pair table: a
    single-increment build (increment == whole corpus) makes the
    stored pairs exactly the one-shot ``minhash_near_dups`` pairs, so
    clusters read off the store must hash-equal ``docs_dup_clusters``
    (oracle shared verbatim). This is the serving shape: cascade /
    canonicals / clusters all consume one materialized pair table
    instead of re-running the banded-LSH pipeline cold per query."""
    from pyspark.sql import Window

    from fabric_claims_spark.extensions.graph import connected_components

    docs = load_table(spark, sf_dir, "documents")
    work = tempfile.mkdtemp(prefix="lsh_srv_")
    try:
        store = TableStore(spark, work)
        apply_lsh_batch(store, docs, 0, threshold=0.5, hasher="md5")
        pairs = read_lsh_pairs(store).select("doc_a", "doc_b")
        comp = connected_components(pairs, "doc_a", "doc_b")
        w = Window.partitionBy("cluster")
        return (
            comp.select(F.col("node").alias("doc"), "cluster")
            .withColumn(
                "cluster_size", F.count(F.lit(1)).over(w).cast("long")
            )
            .withColumn(
                "is_canonical",
                (F.col("doc") == F.col("cluster")).cast("long"),
            )
            .orderBy("doc")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


# --------------------------------------------------------------------------
# IVF vector index (round 9): the serving family's third leg — the
# lexical and LSH indexes cover retrieval and near-dup; this covers
# ANN. The quantizer (k seed centroids) is FIXED at build; increments
# fold in at O(batch·k) assignment cost; consumers read the stored
# assignment instead of recomputing it per query.


@query("embeddings_ivf_index_maintenance", oracle=_IVF_ASSIGN_ORACLE)
def embeddings_ivf_index_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental == one-shot for the stored IVF assignment: the
    vectors arrive as three disjoint pmod(vec_id, 3) increments,
    increment 1 is applied twice (redelivery must be a no-op), and
    the consumer-visible (vec_id, assigned_centroid, centroid_sim)
    state must hash-equal the one-shot ``embeddings_ivf_assign``
    (oracle shared verbatim). The quantizer is held fixed across
    increments — retraining moves every bucket boundary, so that is
    an index REBUILD by contract (operators/serving_index.py)."""
    emb = load_table(spark, sf_dir, "embeddings")
    cent = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"),
        as_double_array("embedding").alias("cv"),
    )
    work = tempfile.mkdtemp(prefix="ivf_idx_")
    try:
        store = TableStore(spark, work)
        for b in range(3):
            batch = emb.where(F.pmod("vec_id", F.lit(3)) == b)
            apply_ivf_batch(store, batch, b, cent)
            if b == 1:  # redelivered increment: exactly-once state
                apply_ivf_batch(store, batch, b, cent)
        return (
            read_ivf_index(store)
            .select("vec_id", "assigned_centroid", "centroid_sim")
            .orderBy("vec_id")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _probe_stored(
    spark: SparkSession,
    sf_dir: str,
    store: TableStore,
    cent: DataFrame,
    q: DataFrame,
) -> DataFrame:
    """The served IVF read: the query's probed buckets of the STORED
    assignment (``read_ivf_index`` — committed, live rows), labelled
    from the corpus and ranked by the shared cosine top-k — the
    ``embeddings_ivf_search`` routing and scoring over the store."""
    hits = read_ivf_index(store).where(F.col("vec_id") != 0).join(
        F.broadcast(ivf_probe(cent, q, _IVF_NPROBE)),
        F.col("assigned_centroid") == F.col("centroid_id"),
        "left_semi",
    )
    labels = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    return cosine_topk(
        hits.join(labels, "vec_id").select("vec_id", "label", "ev"),
        q,
        _IVF_TOPK,
    ).localCheckpoint(eager=True)


@query("embeddings_ivf_search_served", oracle=_IVF_SEARCH_ORACLE)
def embeddings_ivf_search_served(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The served twin of ``embeddings_ivf_search``: the probe reads
    the STORED assignment (built incrementally above) instead of
    recomputing the coarse assignment over the corpus — at scale the
    stored table is bucketed on assigned_centroid so the probe is a
    bucket-pruned read of nprobe/k of the index. Routing (query
    vector → nprobe nearest centroids) and exact re-scoring are
    identical expressions, so the fused top-10 hash-equals the
    in-plan twin (oracle shared verbatim)."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", "label", as_double_array("embedding").alias("ev"))
    q = e.where(F.col("vec_id") == 0).select(F.col("ev").alias("qv"))
    cent = e.where(F.col("vec_id") < _IVF_K).select(
        F.col("vec_id").alias("centroid_id"), F.col("ev").alias("cv")
    )
    work = tempfile.mkdtemp(prefix="ivf_srv_")
    try:
        store = TableStore(spark, work)
        # single-increment build: incremental == one-shot is the
        # MAINTENANCE gate's claim (three increments, one redelivered,
        # above); this gate's claim is the consumer reading the store,
        # so it pays for one apply — assignment is batch-independent
        # (fixed quantizer), so the hash is identical either way.
        apply_ivf_batch(store, emb, 0, cent)
        return _probe_stored(spark, sf_dir, store, cent, q)
    finally:
        shutil.rmtree(work, ignore_errors=True)


# --------------------------------------------------------------------------
# IVF REBUILD (round 10, VERDICT r9 item 2): the lifecycle step the
# maintenance gate only documents — retraining the quantizer moves
# every bucket boundary, so it is a full retrain + reassign + atomic
# swap, never an incremental fold. The gate claim: rebuilding an
# INCREMENTALLY-built store (three increments, seed quantizer) yields
# the exact index a FRESH one-shot build would — the oracle IS that
# fresh build in SQL: the unrolled Lloyd trainer (the bit-exactness
# `embeddings_kmeans` proves) over all vectors, then the verbatim
# cosine coarse assignment to the retrained centroids.


def _ivf_rebuild_oracle(k: int = 8, iters: int = 2) -> str:
    from fabric_claims_spark.queries.similarity import _kmeans_ctes

    return f"""
    WITH {_kmeans_ctes(k, iters)},
    scored AS (
      SELECT e.vec_id, c.cid AS centroid_id,
             ROUND(list_dot_product(e.v, c.cv)
                   / (sqrt(list_dot_product(e.v, e.v))
                      * sqrt(list_dot_product(c.cv, c.cv))), 6) AS sim
      FROM ev e CROSS JOIN cent{iters} c)
    SELECT vec_id, centroid_id AS assigned_centroid, sim AS centroid_sim
    FROM scored
    QUALIFY ROW_NUMBER() OVER (
      PARTITION BY vec_id ORDER BY sim DESC, centroid_id ASC) = 1
    ORDER BY vec_id
    """


@query("embeddings_ivf_rebuild", oracle=_ivf_rebuild_oracle())
def embeddings_ivf_rebuild(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rebuild == fresh-build: the store is built with the SEED
    quantizer (vec_id < 8; one apply — the multi-increment build and
    redelivery no-op are ``embeddings_ivf_index_maintenance``'s
    claim, and the multi-batch_id re-pointing is pytest-pinned, so
    this gate pays for one), then ``rebuild_ivf_index`` retrains
    (Lloyd, 2 rounds, seeds = the k smallest committed vec_ids),
    reassigns every committed vector with the shared ``ivf_assign``
    expressions, and atomically swaps — and the post-swap reader must
    hash-equal the from-scratch trained assignment the oracle
    computes. The swapped quantizer is itself consumer-visible
    (``read_ivf_centroids``, pinned by pytest)."""
    from fabric_claims_spark.operators.serving_index import (
        rebuild_ivf_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    seed = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"),
        as_double_array("embedding").alias("cv"),
    )
    work = tempfile.mkdtemp(prefix="ivf_rb_")
    try:
        store = TableStore(spark, work)
        apply_ivf_batch(store, emb, 0, seed)
        rebuild_ivf_index(store, k=8, iters=2)
        return (
            read_ivf_index(store)
            .select("vec_id", "assigned_centroid", "centroid_sim")
            .orderBy("vec_id")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


# --------------------------------------------------------------------------
# IVF SEARCH AFTER ERASURE (round 12): the vector-store consumer
# claim for tombstone deletes — an erased vector must leave the probe
# result at the delete's commit swap, with the index otherwise
# untouched (no rebuild paid). The oracle is the in-plan IVF search
# shared verbatim MINUS the erased rows (one added predicate —
# derived programmatically from _IVF_SEARCH_ORACLE so the search
# semantics cannot drift; pinned by test_registry).

from fabric_claims_spark.queries.similarity import (  # noqa: E402
    _IVF_SEARCH_ORACLE,
)

_IVF_SEARCH_ERASED_ORACLE = _IVF_SEARCH_ORACLE.replace(
    "WHERE e.vec_id != 0",
    "WHERE e.vec_id != 0 AND e.vec_id % 5 != 2",
)
assert _IVF_SEARCH_ERASED_ORACLE != _IVF_SEARCH_ORACLE


@query(
    "embeddings_ivf_search_after_erasure",
    oracle=_IVF_SEARCH_ERASED_ORACLE,
)
def embeddings_ivf_search_after_erasure(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``embeddings_ivf_search_served`` with an erasure increment:
    after the single-apply build, pmod(vec_id,5)==2 is tombstoned
    (apply_ivf_deletes, redelivered — must be a no-op) and the SAME
    probe runs. The top-10 must equal the in-plan search over the
    surviving vectors — so an erased vector still reachable through
    the probe (a missed anti-join), a double-masked survivor, or a
    visibility leak before the commit would each diverge the hash."""
    from fabric_claims_spark.operators.serving_index import (
        apply_ivf_deletes,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", "label", as_double_array("embedding").alias("ev"))
    q = e.where(F.col("vec_id") == 0).select(F.col("ev").alias("qv"))
    cent = e.where(F.col("vec_id") < _IVF_K).select(
        F.col("vec_id").alias("centroid_id"), F.col("ev").alias("cv")
    )
    work = tempfile.mkdtemp(prefix="ivf_era_")
    try:
        store = TableStore(spark, work)
        apply_ivf_batch(store, emb, 0, cent)
        kill = emb.where(F.pmod("vec_id", F.lit(5)) == 2).select("vec_id")
        apply_ivf_deletes(store, kill, 1)
        apply_ivf_deletes(store, kill, 1)  # redelivery: no-op
        return _probe_stored(spark, sf_dir, store, cent, q)
    finally:
        shutil.rmtree(work, ignore_errors=True)


# --------------------------------------------------------------------------
# SKEW-TRIGGERED REBUILD POLICY (round 12, VERDICT r11: the one
# serving-lifecycle leg without a driver row). The production trigger
# (operators/serving_index.maybe_rebuild_ivf_index) reads ONE bounded
# groupBy — max/mean committed bucket population — holds strictly
# below the threshold and delegates to the atomic rebuild at/above
# it. The gate pins all three observable behaviors in one row set:
#   hold  — threshold above the measured skew: the store is untouched
#           (rows hash-equal the seed assignment) and the returned
#           skew equals the SQL-computed max/(n/k);
#   fired — threshold at the measured skew: the policy delegates to
#           the rebuild, and the post-swap reader hash-equals the
#           fresh Lloyd build (the embeddings_ivf_rebuild claim);
#   post  — k=None now FOLLOWS the stored quantizer (ADVICE r11) and
#           the re-measured skew is the rebuilt index's max/(n/k);
#           a huge threshold holds, so rows still equal the rebuild.


def _ivf_skew_rebuild_oracle(k: int = 8, iters: int = 2) -> str:
    from fabric_claims_spark.queries.similarity import _kmeans_ctes

    # skew = float(mx) / (float(n) / float(k)) — the same two-division
    # IEEE sequence ivf_bucket_skew computes (one fused mx*k/n would
    # round differently)
    skew_expr = (
        "CAST(MAX(bn) AS DOUBLE)"
        f" / (CAST(SUM(bn) AS DOUBLE) / CAST({k} AS DOUBLE))"
    )
    return f"""
    WITH {_kmeans_ctes(k, iters)},
    seed AS (
      SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS cv
      FROM embeddings WHERE vec_id < {k}),
    sscore AS (
      SELECT e.vec_id, c.centroid_id,
             ROUND(list_dot_product(e.embedding::DOUBLE[], c.cv)
                   / (sqrt(list_dot_product(e.embedding::DOUBLE[],
                                            e.embedding::DOUBLE[]))
                      * sqrt(list_dot_product(c.cv, c.cv))), 6) AS sim
      FROM embeddings e, seed c),
    sasg AS (
      SELECT vec_id, centroid_id AS assigned_centroid,
             sim AS centroid_sim
      FROM sscore
      QUALIFY ROW_NUMBER() OVER (
        PARTITION BY vec_id ORDER BY sim DESC, centroid_id ASC) = 1),
    sskew AS (
      SELECT {skew_expr} AS skew FROM (
        SELECT COUNT(*) AS bn FROM sasg GROUP BY assigned_centroid)),
    rscore AS (
      SELECT e.vec_id, c.cid AS centroid_id,
             ROUND(list_dot_product(e.v, c.cv)
                   / (sqrt(list_dot_product(e.v, e.v))
                      * sqrt(list_dot_product(c.cv, c.cv))), 6) AS sim
      FROM ev e CROSS JOIN cent{iters} c),
    rasg AS (
      SELECT vec_id, centroid_id AS assigned_centroid,
             sim AS centroid_sim
      FROM rscore
      QUALIFY ROW_NUMBER() OVER (
        PARTITION BY vec_id ORDER BY sim DESC, centroid_id ASC) = 1),
    rskew AS (
      SELECT {skew_expr} AS skew FROM (
        SELECT COUNT(*) AS bn FROM rasg GROUP BY assigned_centroid))
    SELECT 'hold' AS phase, a.vec_id, a.assigned_centroid,
           a.centroid_sim, s.skew, FALSE AS rebuilt
    FROM sasg a CROSS JOIN sskew s
    UNION ALL
    SELECT 'fired', a.vec_id, a.assigned_centroid,
           a.centroid_sim, s.skew, TRUE
    FROM rasg a CROSS JOIN sskew s
    UNION ALL
    SELECT 'post', a.vec_id, a.assigned_centroid,
           a.centroid_sim, s.skew, FALSE
    FROM rasg a CROSS JOIN rskew s
    ORDER BY phase, vec_id
    """


@query("embeddings_ivf_skew_rebuild", oracle=_ivf_skew_rebuild_oracle())
def embeddings_ivf_skew_rebuild(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The policy's three observable decisions over one store: hold
    (threshold strictly above the measured seed-quantizer skew — the
    index reader must hash-equal the seed assignment, i.e. the store
    was untouched), fire (threshold AT the measured skew — delegates
    to the atomic rebuild; the reader must hash-equal the fresh Lloyd
    build), and post (k=None follows the freshly stored quantizer —
    ADVICE r11 — re-measures the REBUILT index's skew, and a huge
    threshold holds). The skew scalar rides in every row, so the
    driver hash pins the trigger MEASUREMENT (both before and after
    the rebuild), not just the decisions."""
    from fabric_claims_spark.operators.serving_index import (
        ivf_bucket_skew,
        maybe_rebuild_ivf_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    seed = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"),
        as_double_array("embedding").alias("cv"),
    )
    work = tempfile.mkdtemp(prefix="ivf_skw_")

    def _phase(name: str, skew: float, rebuilt: bool, store) -> DataFrame:
        return (
            read_ivf_index(store)
            .select(
                F.lit(name).alias("phase"),
                "vec_id",
                "assigned_centroid",
                "centroid_sim",
                F.lit(float(skew)).alias("skew"),
                F.lit(bool(rebuilt)).alias("rebuilt"),
            )
            .localCheckpoint(eager=True)
        )

    try:
        store = TableStore(spark, work)
        apply_ivf_batch(store, emb, 0, seed)
        skew0 = ivf_bucket_skew(store, k=8)
        held_skew, held = maybe_rebuild_ivf_index(
            store, skew_threshold=skew0 + 1.0, k=8, iters=2
        )
        assert held is None and held_skew == skew0
        out = _phase("hold", held_skew, held is not None, store)
        fired_skew, cents = maybe_rebuild_ivf_index(
            store, skew_threshold=skew0, k=8, iters=2
        )
        assert cents is not None and fired_skew == skew0
        out = out.unionByName(
            _phase("fired", fired_skew, cents is not None, store)
        )
        # k=None: the stored quantizer (just published by the fire)
        # is authoritative for the re-measurement
        post_skew, post = maybe_rebuild_ivf_index(
            store, skew_threshold=1e18
        )
        assert post is None
        return out.unionByName(
            _phase("post", post_skew, post is not None, store)
        ).orderBy("phase", "vec_id")
    finally:
        shutil.rmtree(work, ignore_errors=True)


from fabric_claims_spark.queries.text_docs import (  # noqa: E402
    _PHRASE_POSITIONAL_ORACLE,
    _top_trigram,
)


@query("docs_phrase_search_served", oracle=_PHRASE_POSITIONAL_ORACLE)
def docs_phrase_search_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional-index serving twin (round 10): the corpus arrives as
    three disjoint pmod(doc_id, 3) increments (increment 1
    redelivered — exactly-once visibility), and the phrase query runs
    against the STORED positional postings via the same
    phrase_occurrences adjacency join as the in-plan
    docs_phrase_search_positional. Oracle shared VERBATIM, so the
    driver hash pins stored == in-plan. The phrase itself (the
    corpus's top trigram) is derived in-plan exactly as the twin does
    — the stored machinery under test is the postings, not the
    argmax."""
    from fabric_claims_spark.operators.serving_index import (
        apply_positional_batch,
        phrase_occurrences,
        read_positional_index,
    )
    from fabric_claims_spark.queries.text_docs import _WS

    docs = load_table(spark, sf_dir, "documents")
    work = tempfile.mkdtemp(prefix="pos_idx_")
    try:
        store = TableStore(spark, work)
        for b in range(3):
            batch = docs.where(F.pmod("doc_id", F.lit(3)) == b)
            apply_positional_batch(store, batch, b)
            if b == 1:  # redelivery must be a no-op
                apply_positional_batch(store, batch, b)
        d = docs.where(F.length(F.trim(F.col("text"))) > 0).select(
            "doc_id", F.split(F.trim(F.col("text")), _WS).alias("t")
        )
        m = phrase_occurrences(read_positional_index(store), _top_trigram(d))
        out = m.groupBy(
            "doc_id", F.concat_ws(" ", "w1", "w2", "w3").alias("phrase")
        ).agg(F.count(F.lit(1)).alias("occurrences"))
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


from fabric_claims_spark.queries.text_docs import (  # noqa: E402
    _PHRASE_NGRAM_ORACLE,
    _top_ngram,
)


@query("docs_phrase_search_ngram_served", oracle=_PHRASE_NGRAM_ORACLE)
def docs_phrase_search_ngram_served(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Served twin of the n-term phrase gate (round 11): the
    generalized ``phrase_occurrences`` (one adjacency leg per term)
    runs against the STORED positional postings — two pmod(doc_id, 2)
    increments, increment 0 redelivered — for the corpus's top bigram
    AND top 4-gram. Oracle shared VERBATIM with the in-plan
    ``docs_phrase_search_ngram``, so the driver hash pins stored ==
    in-plan for both chain lengths (the 3-term served gate keeps
    pinning the original shape)."""
    from fabric_claims_spark.operators.serving_index import (
        apply_positional_batch,
        phrase_occurrences,
        read_positional_index,
    )
    from fabric_claims_spark.queries.text_docs import _WS

    docs = load_table(spark, sf_dir, "documents")
    work = tempfile.mkdtemp(prefix="pos_ng_")
    try:
        store = TableStore(spark, work)
        for b in range(2):
            batch = docs.where(F.pmod("doc_id", F.lit(2)) == b)
            apply_positional_batch(store, batch, b)
        apply_positional_batch(  # redelivery must be a no-op
            store, docs.where(F.pmod("doc_id", F.lit(2)) == 0), 0
        )
        pos = read_positional_index(store)
        d = docs.where(F.length(F.trim(F.col("text"))) > 0).select(
            "doc_id", F.split(F.trim(F.col("text")), _WS).alias("t")
        )
        out = None
        for n in (2, 4):
            ws = [f"w{i}" for i in range(1, n + 1)]
            g = (
                phrase_occurrences(pos, _top_ngram(d, n))
                .groupBy("doc_id", F.concat_ws(" ", *ws).alias("phrase"))
                .agg(F.count(F.lit(1)).alias("occurrences"))
                .select(
                    "doc_id",
                    "phrase",
                    F.lit(n).cast("long").alias("phrase_len"),
                    "occurrences",
                )
            )
            out = g if out is None else out.unionByName(g)
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


# --------------------------------------------------------------------------
# IVF CDC MUTATION STREAM (round 13, VERDICT r12 item 3): the vector
# family joins the checkpointed mutation feed. One stream drains a
# three-file log — add evens; add odds + delete evens%3==0; a
# delete-only file erasing odds%3==0 (vectors the PREVIOUS micro-batch
# added) — under the 2b/2b+1 id discipline, and the committed live
# assignment must hash-equal the one-shot assignment over the
# survivors (oracle = _IVF_ASSIGN_ORACLE with exactly one added
# survivor predicate, derived programmatically so the assignment
# semantics cannot drift; pinned by test_registry). The survivor set
# is order-independent by construction: read_ivf_index anti-joins ALL
# committed tombstones, and the fixed quantizer makes assignment
# batch-independent — so the hash pins the full protocol (adds,
# deletes, empty-leg skips, checkpointed delivery) rather than a
# lucky interleave.

from fabric_claims_spark.queries.similarity import (  # noqa: E402
    _IVF_ASSIGN_ORACLE,
)

_IVF_ASSIGN_SURVIVOR_ORACLE = _IVF_ASSIGN_ORACLE.replace(
    "FROM embeddings e, centroids c)",
    "FROM embeddings e, centroids c\n      WHERE e.vec_id % 3 != 0)",
)
assert _IVF_ASSIGN_SURVIVOR_ORACLE != _IVF_ASSIGN_ORACLE


@query(
    "embeddings_ivf_mutation_stream",
    oracle=_IVF_ASSIGN_SURVIVOR_ORACLE,
)
def embeddings_ivf_mutation_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``embedding_mutation_stream`` end-to-end: write the CDC log,
    drain it through the checkpointed stream (availableNow), read the
    committed live index. The doc→vec mapping leg
    (``apply_ivf_batch(doc_col=...)``) rides along so the erasure
    default path stays exercised."""
    import glob as _glob
    import shutil as _shutil

    from fabric_claims_spark.streaming.corpus_stream import (
        embedding_mutation_stream,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "embedding",
        (F.col("vec_id") % 37).alias("doc_id"),
    )
    seed = load_table(spark, sf_dir, "embeddings").where(
        F.col("vec_id") < 8
    ).select(
        F.col("vec_id").alias("centroid_id"),
        as_double_array("embedding").alias("cv"),
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

    work = tempfile.mkdtemp(prefix="ivf_mut_")
    try:
        mut_dir = os.path.join(work, "mut")
        os.makedirs(mut_dir)
        for name, part in (("a", f1), ("b", f2), ("c", f3)):
            side = os.path.join(work, f"side_{name}")
            part.coalesce(1).write.parquet(side)
            _shutil.copy(
                _glob.glob(os.path.join(side, "part-*.parquet"))[0],
                os.path.join(mut_dir, f"{name}.parquet"),
            )
        got = embedding_mutation_stream(
            spark,
            mut_dir,
            os.path.join(work, "ckpt"),
            os.path.join(work, "store"),
            seed,
            doc_col="doc_id",
        )
        return (
            got.select("vec_id", "assigned_centroid", "centroid_sim")
            .orderBy("vec_id")
            .localCheckpoint(eager=True)
        )
    finally:
        _shutil.rmtree(work, ignore_errors=True)


# --------------------------------------------------------------------------
# MAINTENANCE SCHEDULER GATE (round 13, candidate driver row): the
# IndexMaintenance pass itself under the hash gate — two consecutive
# passes over a tombstoned lexical store must make exactly the
# decisions the policies promise (pass 1: fold Fired with the exact
# dropped count, compactions Fired at threshold 1; pass 2: fold Held
# at tombstones=0, compactions Fired again) and leave the index at
# the fresh-survivor-build state. Decision statuses and the fold's
# dropped count are deterministic functions of the corpus; file
# counts are NOT (they depend on write parallelism), so compaction
# rows hash their status only (n=0) — the threshold-1 setting makes
# the status itself deterministic.

@query(
    "lexical_maintenance_pipeline",
    oracle=r"""
    WITH td AS (
      SELECT DISTINCT doc_id,
             unnest(regexp_split_to_array(trim(text), '\s+')) AS term
      FROM documents WHERE length(trim(text)) > 0),
    del AS (SELECT * FROM td WHERE doc_id % 5 = 2),
    ddocs AS (SELECT DISTINCT doc_id FROM del),
    surv AS (SELECT * FROM td WHERE doc_id % 5 != 2)
    SELECT 'p1' AS phase, 'fold:lexical' AS decision, 'Fired' AS status,
           CAST((SELECT COUNT(*) FROM del)
                + (SELECT COUNT(*) FROM ddocs) AS BIGINT) AS n
    UNION ALL SELECT 'p1', 'compact:lex_postings', 'Fired', CAST(0 AS BIGINT)
    UNION ALL SELECT 'p1', 'compact:lex_doclen', 'Fired', CAST(0 AS BIGINT)
    UNION ALL SELECT 'p2', 'fold:lexical', 'Held', CAST(0 AS BIGINT)
    UNION ALL SELECT 'p2', 'compact:lex_postings', 'Fired', CAST(0 AS BIGINT)
    UNION ALL SELECT 'p2', 'compact:lex_doclen', 'Fired', CAST(0 AS BIGINT)
    UNION ALL SELECT 'post', 'index:postings', '',
           CAST((SELECT COUNT(*) FROM surv) AS BIGINT)
    UNION ALL SELECT 'post', 'index:terms', '',
           CAST((SELECT COUNT(DISTINCT term) FROM surv) AS BIGINT)
    UNION ALL SELECT 'post', 'index:doclen', '',
           CAST((SELECT COUNT(DISTINCT doc_id) FROM surv) AS BIGINT)
    UNION ALL SELECT 'post', 'index:tombstones', '', CAST(0 AS BIGINT)
    """,
)
def lexical_maintenance_pipeline(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Build, erase, then run the audited maintenance pass twice
    (pipeline/runner.IndexMaintenance — fold cadence + threshold-1
    compaction) and hash the decision table plus the post-state
    counts. A fold that under- or over-drops, a cadence that
    re-fires on an empty tombstone set, a compaction that changes
    reader-visible rows, or a tombstone that survives the fold each
    diverge the hash."""
    from fabric_claims_spark.operators.serving_index import (
        LEXICAL,
        read_tombstones,
    )
    from fabric_claims_spark.pipeline.runner import IndexMaintenance

    docs = load_table(spark, sf_dir, "documents")
    work = tempfile.mkdtemp(prefix="lex_maint_")
    try:
        store = TableStore(spark, work)
        apply_lexical_batch(store, docs, 0)
        apply_lexical_deletes(
            store, docs.where(F.col("doc_id") % 5 == 2).select("doc_id"), 1
        )
        maint = IndexMaintenance(
            store,
            fold_min_tombstones=1,
            compact_file_threshold=1,
            compact_n_files=1,
        )
        rows: list[tuple[str, str, str, int]] = []
        for phase in ("p1", "p2"):
            out = maint.run_post_apply()
            for dec in ("fold:lexical", "compact:lex_postings",
                        "compact:lex_doclen"):
                o = out[dec]
                n = int(o.get("rows_dropped", 0)) if dec.startswith("fold") else 0
                rows.append(
                    (phase, dec, "Fired" if o["fired"] else "Held", n)
                )
        td, dfc, dn = read_lexical_index(store)
        rows.append(("post", "index:postings", "", int(td.count())))
        rows.append(("post", "index:terms", "", int(dfc.count())))
        rows.append(("post", "index:doclen", "", int(dn.count())))
        rows.append(
            ("post", "index:tombstones", "",
             int(read_tombstones(store, LEXICAL).count()))
        )
        return local_frame(
            spark, rows,
            "phase string, decision string, status string, n long",
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


# --------------------------------------------------------------------------
# GOVERNANCE ERASURE FAN-OUT GATE (round 13, candidate driver row):
# forget_documents end-to-end under the hash gate — one doc-keyed
# request (default-allocated batch id, doc→vec resolution through
# the ivf_docmap) must erase the subject from all four families, and
# the hashed row set carries the per-family requested counts AND the
# post-erasure state of every family (postings, positions, pairs
# with both endpoints live, live vectors, live docmap). A family the
# cascade missed, a vector left behind by the doc→vec resolution, or
# a pair surviving through an erased endpoint each diverge the hash.

from fabric_claims_spark.queries.lsh import _neardup_ctes  # noqa: E402

_FORGET_ORACLE = f"""
    WITH {_neardup_ctes()},
    pairs AS (
      SELECT doc_a, doc_b FROM est WHERE est_jaccard >= 0.5),
    td AS (
      SELECT DISTINCT doc_id,
             unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
      FROM documents WHERE length(trim(text)) > 0),
    tok AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
      FROM documents WHERE length(trim(text)) > 0),
    killn AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n
      FROM documents WHERE doc_id % 7 = 3)
    SELECT 'requested' AS stage, 'lexical' AS family,
           (SELECT n FROM killn) AS n
    UNION ALL SELECT 'requested', 'positional', (SELECT n FROM killn)
    UNION ALL SELECT 'requested', 'lsh', (SELECT n FROM killn)
    UNION ALL SELECT 'requested', 'ivf',
      (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings
       WHERE (vec_id % 37) % 7 = 3)
    UNION ALL SELECT 'post', 'lex_postings',
      (SELECT CAST(COUNT(*) AS BIGINT) FROM td WHERE doc_id % 7 != 3)
    UNION ALL SELECT 'post', 'pos_postings',
      (SELECT CAST(COUNT(*) AS BIGINT) FROM tok WHERE doc_id % 7 != 3)
    UNION ALL SELECT 'post', 'lsh_pairs',
      (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs
       WHERE doc_a % 7 != 3 AND doc_b % 7 != 3)
    UNION ALL SELECT 'post', 'ivf_live',
      (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings
       WHERE (vec_id % 37) % 7 != 3)
    UNION ALL SELECT 'post', 'ivf_docmap',
      (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings
       WHERE (vec_id % 37) % 7 != 3)
    """


@query("forget_documents_pipeline", oracle=_FORGET_ORACLE)
def forget_documents_pipeline(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Build all four serving families (IVF with the doc→vec
    mapping), erase doc_id % 7 == 3 through ONE default-batch-id
    ``forget_documents`` call, and hash the requested counts plus
    every family's post-erasure reader state."""
    from fabric_claims_spark.operators.serving_index import (
        apply_positional_batch,
        read_ivf_docmap,
        read_positional_index,
    )
    from fabric_claims_spark.plans.governance import forget_documents

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", (F.col("vec_id") % 37).alias("doc_id")
    )
    seed = load_table(spark, sf_dir, "embeddings").where(
        F.col("vec_id") < 8
    ).select(
        F.col("vec_id").alias("centroid_id"),
        as_double_array("embedding").alias("cv"),
    )
    work = tempfile.mkdtemp(prefix="forget_e2e_")
    try:
        store = TableStore(spark, work)
        apply_lexical_batch(store, docs, 0)
        apply_positional_batch(store, docs, 0)
        apply_lsh_batch(store, docs, 0, threshold=0.5, hasher="md5")
        apply_ivf_batch(store, emb, 0, seed, doc_col="doc_id")

        kill = docs.where(F.col("doc_id") % 7 == 3).select("doc_id")
        out = forget_documents(store, kill)  # default-allocated id

        td, _, _ = read_lexical_index(store)
        rows = [
            ("requested", "lexical", int(out["lexical"])),
            ("requested", "positional", int(out["positional"])),
            ("requested", "lsh", int(out["lsh"])),
            ("requested", "ivf", int(out["ivf"])),
            ("post", "lex_postings", int(td.count())),
            ("post", "pos_postings",
             int(read_positional_index(store).count())),
            ("post", "lsh_pairs", int(read_lsh_pairs(store).count())),
            ("post", "ivf_live", int(read_ivf_index(store).count())),
            ("post", "ivf_docmap", int(read_ivf_docmap(store).count())),
        ]
        return local_frame(
            spark, rows, "stage string, family string, n long"
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
