"""Continuous corpus ingestion with incremental dedup — the streaming
twin of ``extensions/dedup.py:incremental_dedup``.

A training-data pipeline at 100 TB doesn't re-dedup the corpus per
crawl; it dedups each arriving micro-batch against the stored corpus
and appends only the genuinely new documents. This module is that
loop: a streaming read of a document directory → ``foreachBatch``
→ batch-vs-store incremental dedup → append survivors. Every stream
here reads its source the same way (``_read``: one parquet file per
micro-batch) and runs it with ``streaming.drain`` (AvailableNow) or,
for a pure count fold, ``streaming.fold``.

Delivery semantics: ``foreachBatch`` is at-least-once, and a blind
append would duplicate a redelivered batch — so every appended row
carries the micro-batch id (``_ingest_batch_id``), committed in the
SAME atomic TableStore version as the data, and the sink skips any
batch id at or below the stored maximum (same discipline as
``operators/rollup.maintain_additive_rollup_idempotent``).

Intra-batch semantics: exact duplicates WITHIN a batch collapse to
the min-id canonical before the store check; near-dup relations
within one batch are not chased (both docs store — the documented
``incremental_dedup`` scope; a periodic compaction with
``minhash_near_dups`` over the store handles drift).

Scale: per micro-batch the work is batch-sized (signatures for the
batch; equi-joins against the store's content-hash and band keys —
stored tables bucketed on those keys in production). The fallback
TableStore append is read+union+commit (O(store) I/O, atomic); on
Delta the same sink is an O(batch) transactional append.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from fabric_claims_spark.extensions.dedup import incremental_dedup
from fabric_claims_spark.operators import serving_index as si
from fabric_claims_spark.operators.dsir import (
    dsir_bucket_rows,
    dsir_weights_from_bucket_counts,
)
from fabric_claims_spark.operators.rollup import (
    APPLIED_BATCH_COL,
    maintain_additive_rollup_idempotent,
)
from fabric_claims_spark.sources.merge import TableStore
from fabric_claims_spark.streaming import drain, fold

INGEST_BATCH_COL = "_ingest_batch_id"

# family -> the ``serving_index`` reader ``index_stream`` returns
_SERVED = {
    "lexical": "read_lexical_index",
    "positional": "read_positional_index",
    "lsh": "read_lsh_pairs",
    "ivf": "read_ivf_index",
}


def ingest_batch(
    store: TableStore,
    table: str,
    batch_df: DataFrame,
    batch_id: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    hasher: str = "xxhash64",
) -> bool:
    """Fold one micro-batch into the corpus store; returns False if
    the batch id was already committed (redelivery no-op). The
    foreachBatch sink below is exactly this function."""
    if store.exists(table):
        cur = store.read(table)
        applied = cur.select(F.max(INGEST_BATCH_COL)).head()[0]
        if applied is not None and batch_id <= applied:
            return False  # redelivered micro-batch — already committed
        corpus = cur.drop(INGEST_BATCH_COL)
    else:
        corpus = None

    # intra-batch exact collapse: min-id canonical per content
    w = Window.partitionBy(F.md5(F.col(text_col)))
    batch = (
        batch_df.withColumn("_canon", F.min(id_col).over(w))
        .where(F.col(id_col) == F.col("_canon"))
        .drop("_canon")
    )
    if corpus is not None:
        verdict = incremental_dedup(
            corpus,
            batch,
            id_col,
            text_col,
            threshold=threshold,
            hasher=hasher,
        )
        batch = batch.join(
            verdict.where(F.col("status") == "new").select(id_col),
            id_col,
        )
    store.append(
        table, batch.withColumn(INGEST_BATCH_COL, F.lit(batch_id).cast("long"))
    )
    return True


def corpus_ingest_stream(
    spark: SparkSession,
    docs_dir: str,
    checkpoint_dir: str,
    store_root: str,
    table: str = "corpus",
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    hasher: str = "xxhash64",
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """Drain ``docs_dir`` (AvailableNow) into a deduped corpus store;
    returns the stored corpus (bookkeeping column dropped)."""
    store = TableStore(spark, store_root)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        ingest_batch(
            store,
            table,
            batch_df,
            batch_id,
            id_col=id_col,
            text_col=text_col,
            threshold=threshold,
            hasher=hasher,
        )

    drain(
        _read(spark, docs_dir, max_files_per_trigger), checkpoint_dir, sink=sink
    )
    if not store.exists(table):
        raise ValueError("no batches processed")
    return store.read(table).drop(INGEST_BATCH_COL)


def dsir_monitor_stream(
    spark: SparkSession,
    docs_dir: str,
    checkpoint_dir: str,
    query_name: str = "dsir_monitor",
) -> DataFrame:
    """Streaming DSIR importance weights — the data-selection scorer
    (queries/text_docs.docs_dsir_weights) continuously maintained
    over an arriving corpus. Per micro-batch, the (doc_id, bucket,
    tgt) token-occurrence counts fold through the idempotent additive
    rollup (state = |docs| x B rows, never token-sized; at-least-once
    redelivery is a no-op); each read feeds the folded counts to the
    SAME scoring core the batch query uses
    (operators/dsir.dsir_weights_from_bucket_counts — shared
    verbatim, so stream==batch is structural).

    Weights are deliberately NOT incremental: a new target document
    shifts the llr table and with it EVERY document's weight — the
    correct semantics for a relative-likelihood score — so reads
    recompute the B-row llr and the weight join over the bounded
    count table (fold counts, recompute statistics at read: the
    z-score monitor discipline)."""
    dc = fold(
        dsir_bucket_rows(_read(spark, docs_dir)),
        checkpoint_dir,
        query_name,
        keys=["doc_id", "bucket", "tgt"],
        count_col="c",
    )
    return dsir_weights_from_bucket_counts(dc)


def index_stream(
    spark: SparkSession,
    src_dir: str,
    checkpoint_dir: str,
    store_root: str,
    family: str,
    **apply_kwargs,
):
    """Continuously maintained serving index of one ``family``
    (``lexical`` / ``positional`` / ``lsh`` / ``ivf``) — the streaming
    face of ``operators/serving_index.apply_<family>_batch``: each
    arriving file folds into the stored index at O(batch) cost, with
    ``apply_kwargs`` passed through to the apply (``ivf`` needs its
    fixed ``centroids``; ``lsh`` takes ``threshold``/``hasher``). The
    apply is idempotent on batch_id with exactly-once visibility
    (token-stamped appends behind the atomic commit table), so
    foreachBatch's at-least-once redelivery needs no extra guard — a
    torn commit re-runs the apply and the batch-id check makes it a
    no-op.

    Returns the served view — committed live rows only, the exact
    frames the served gates read: the lexical (postings, df, doclen)
    triple, the positional (doc_id, term, pos) frame, the LSH pair
    table, or the IVF assignment table."""
    if family not in _SERVED:
        raise ValueError(f"unknown index family: {family!r}")
    store = TableStore(spark, store_root)
    apply = getattr(si, f"apply_{family}_batch")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        apply(store, batch_df, batch_id, **apply_kwargs)

    drain(_read(spark, src_dir), checkpoint_dir, sink=sink)
    return getattr(si, _SERVED[family])(store)


def dsir_pipeline_stream(
    spark: SparkSession,
    docs_dir: str,
    checkpoint_dir: str,
    query_name: str = "dsir_pipeline",
) -> DataFrame:
    """Streaming DSIR end-to-end selection — the full data-selection
    loop (weights → Gumbel-top-K pool → Hamilton mixture) continuously
    maintained over an arriving corpus. The count state folds exactly
    as in ``dsir_monitor_stream`` (idempotent additive rollup,
    |docs| × B rows); each read recomputes weights (correctly
    non-incremental — a new target doc shifts every relative
    likelihood) and then runs the SAME selection stages the batch
    query runs (queries/text_docs.dsir_select_from_weights, shared
    verbatim — stream==batch parity is structural). The doc→source
    map the mixture stage needs is folded per batch into a
    (doc_id, source) side table under the same idempotent batch-id
    discipline, so reads never re-scan raw text."""
    from fabric_claims_spark.queries.text_docs import (
        dsir_select_from_weights,
    )

    store = TableStore(spark, f"{checkpoint_dir}_table")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        maintain_additive_rollup_idempotent(
            store,
            query_name,
            dsir_bucket_rows(batch_df),
            batch_id,
            keys=["doc_id", "bucket", "tgt"],
            count_col="c",
        )
        # (doc_id, source) bookkeeping — additive with count 1/doc,
        # idempotent on the same batch_id discipline
        maintain_additive_rollup_idempotent(
            store,
            f"{query_name}_sources",
            batch_df.select("doc_id", "source"),
            batch_id,
            keys=["doc_id", "source"],
            count_col="_one",
        )

    drain(_read(spark, docs_dir), checkpoint_dir, sink=sink)
    if not store.exists(query_name):
        raise ValueError("no batches processed")
    dc = store.read(query_name).drop(APPLIED_BATCH_COL)
    w = dsir_weights_from_bucket_counts(dc)
    srcs = store.read(f"{query_name}_sources").select("doc_id", "source")
    return dsir_select_from_weights(w, srcs)


def corpus_mutation_stream(
    spark: SparkSession,
    mutations_dir: str,
    checkpoint_dir: str,
    store_root: str,
    families: tuple[str, ...] = ("lexical",),
    maintenance=None,
    maintenance_every: int = 8,
):
    """Continuously maintained document indexes over a MUTATION log —
    the CDC-shaped production feed (round 12): each arriving file
    carries both kinds of increment (``op='add'`` rows with document
    content, ``op='del'`` rows naming erased doc_ids), and one
    checkpointed stream folds both into every requested index family
    (``lexical`` / ``positional`` / ``lsh``) in arrival order.

    Batch-id discipline: builds and erasures share ONE monotonic
    sequence PER FAMILY (the contract ``apply_lexical_deletes``
    documents — the df rollup's idempotence gate skips ids at or
    below the last applied, so the two kinds cannot come from two
    independently checkpointed streams; each family has its own
    commit table, so one sequence serves all). A micro-batch maps to
    TWO protocol ids — ``2*batch_id`` for its adds, ``2*batch_id +
    1`` for its deletes (adds before deletes, so a batch may erase a
    doc it just added; the sub-id split keeps redelivery idempotent
    per LEG and per family: a torn micro-batch that applied some
    legs re-runs with the applied legs no-oping and the rest
    completing — the exact torn-apply healing the batch path pytests
    pin).

    Maintenance cadence (round 13, VERDICT r12 item 2): pass a
    configured ``pipeline.runner.IndexMaintenance`` as
    ``maintenance`` and its audited post-apply pass (tombstone
    folds, file-count compaction, IVF skew probe where present) runs
    after every ``maintenance_every`` micro-batches — the production
    loop SCALING.md describes, driver-sequential inside the
    foreachBatch sink so it never races an apply. The folds'
    snapshot-clear makes a fold overlapping the NEXT batch's deletes
    safe by construction; redelivered micro-batches re-run the
    cadence check, which is idempotent (a second fold sees zero
    tombstones and logs Held).

    Returns the served lexical (postings, df, doclen) triple when
    ``lexical`` is maintained, else None — live rows only; the other
    families are read through their own ``read_*`` functions."""
    legs = {
        "lexical": (si.apply_lexical_batch, si.apply_lexical_deletes),
        "positional": (si.apply_positional_batch, si.apply_positional_deletes),
        "lsh": (partial(si.apply_lsh_batch, hasher="md5"), si.apply_lsh_deletes),
    }
    unknown = set(families) - set(legs)
    if unknown:
        raise ValueError(f"unknown index families: {sorted(unknown)}")
    store = TableStore(spark, store_root)
    _drain_mutations(
        spark, mutations_dir, checkpoint_dir, store,
        [legs[f] for f in legs if f in families], "doc_id",
        maintenance, maintenance_every,
    )
    return si.read_lexical_index(store) if "lexical" in families else None


def embedding_mutation_stream(
    spark: SparkSession,
    mutations_dir: str,
    checkpoint_dir: str,
    store_root: str,
    centroids: DataFrame,
    doc_col: str | None = None,
    maintenance=None,
    maintenance_every: int = 8,
):
    """The vector-family leg of the CDC mutation feed (round 13,
    VERDICT r12 item 3): ``corpus_mutation_stream`` maintains the
    three TEXT families; this maintains the IVF index from an
    embedding-mutation log — ``op='add'`` rows carrying (vec_id,
    embedding[, doc_id]), ``op='del'`` rows naming erased vec_ids —
    under the SAME protocol: one checkpointed stream, micro-batch b
    mapping to ids 2b (adds, ``apply_ivf_batch``) and 2b+1 (deletes,
    ``apply_ivf_deletes``), adds before deletes so a batch may erase
    a vector it just added, empty legs skipped (their redelivery is
    equally empty — no version churn, no commit-table growth), torn
    micro-batches healed by the per-leg idempotence gates.

    ``centroids`` is the fixed build-time quantizer ((centroid_id,
    cv), k rows, broadcast) — the FAISS discipline ``apply_ivf_batch``
    documents; a skew-fired rebuild between stream runs republishes
    one via ``read_ivf_centroids``, which a restarting caller should
    prefer when present. ``doc_col`` threads through to
    ``apply_ivf_batch`` so the doc→vec mapping (``ivf_docmap``) stays
    maintained for complete-by-default ``forget_documents``.

    ``maintenance`` / ``maintenance_every``: same contract as
    ``corpus_mutation_stream`` — a configured
    ``pipeline.runner.IndexMaintenance`` runs its audited post-apply
    pass every N micro-batches inside the sink (for the vector
    family that is the skew probe, compaction, and — with
    ``vacuum=True`` — orphan reclamation; deletion-drift feeds the
    skew trigger, so streamed erasure schedules its own physical
    fold through the rebuild).

    Returns the committed live index frame (``read_ivf_index``)."""
    store = TableStore(spark, store_root)
    adds = partial(si.apply_ivf_batch, centroids=centroids, doc_col=doc_col)
    _drain_mutations(
        spark, mutations_dir, checkpoint_dir, store,
        [(adds, si.apply_ivf_deletes)], "vec_id",
        maintenance, maintenance_every,
    )
    return si.read_ivf_index(store)


def _read(
    spark: SparkSession, src_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """The parquet files of ``src_dir`` as a stream, one file per
    micro-batch by default (schema probed from the files once)."""
    return (
        spark.readStream.schema(spark.read.parquet(src_dir).schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(src_dir)
    )


def _drain_mutations(
    spark: SparkSession,
    mutations_dir: str,
    checkpoint_dir: str,
    store: TableStore,
    legs,
    del_col: str,
    maintenance,
    maintenance_every: int,
) -> None:
    """The one mutation-log sink behind ``corpus_mutation_stream`` and
    ``embedding_mutation_stream``. ``legs`` is a list of
    ``(apply_adds, apply_deletes)`` pairs, applied in order; micro-batch
    b applies its ``op='add'`` rows under id 2b and the ``del_col`` ids
    of its ``op='del'`` rows under 2b+1, then runs ``maintenance``
    every ``maintenance_every`` micro-batches."""
    if maintenance is not None and maintenance_every < 1:
        raise ValueError(
            f"maintenance_every must be >= 1, got {maintenance_every}"
        )
    if "op" not in spark.read.parquet(mutations_dir).columns:
        raise ValueError("mutation log must carry an 'op' column")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # one pass over the micro-batch decides which legs exist
        # (ADVICE r12): an adds-only batch must not rewrite the df
        # rollup state, append an empty tombstone file, and grow
        # every family's commit table through an empty delete leg —
        # and symmetrically for a dels-only batch. Skipping an empty
        # leg is idempotence-neutral: its redelivery is equally
        # empty, and the 2b/2b+1 id sequence stays monotonic with
        # the skipped id simply never applied.
        flags = batch_df.agg(
            F.max((F.col("op") == "add").cast("int")).alias("a"),
            F.max((F.col("op") == "del").cast("int")).alias("d"),
        ).first()
        adds = batch_df.where(F.col("op") == "add").drop("op")
        dels = batch_df.where(F.col("op") == "del").select(del_col)
        for apply_adds, apply_deletes in legs:
            if flags["a"]:
                apply_adds(store, adds, 2 * batch_id)
            if flags["d"]:
                apply_deletes(store, dels, 2 * batch_id + 1)
        if maintenance is not None and (batch_id + 1) % maintenance_every == 0:
            maintenance.run_post_apply()

    drain(_read(spark, mutations_dir), checkpoint_dir, sink=sink)
