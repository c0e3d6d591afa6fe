"""Materialized serving indexes — persisted via ``TableStore``,
maintained incrementally (VERDICT r7 item 2).

``docs_hybrid_rrf_indexed`` notes that in serving the posting / df /
doc-length frames "are materialized once" — but every gate query
builds them in-plan, and the LSH near-dup machinery (signatures, band
table, pair table) is likewise recomputed cold by each consumer
(cascade / canonicals / clusters). This module persists both index
families and folds each new corpus increment in at O(batch) cost, so
a serving layer pays the corpus-sized build exactly once:

Lexical index (``docs_posting_lists`` shape — reference NB_GOLD's
report-index family, re-expressed as stored Spark tables):

* ``lex_postings`` (doc_id, term)  — append-only per batch
* ``lex_doclen``  (doc_id, n)      — append-only per batch
* ``lex_df``      (term, df)       — additive rollup (vocabulary-sized
  state, rewritten per batch via the same idempotent fold the gold
  rollups use — ``operators/rollup.py``)

LSH near-dup index (``minhash_near_dups`` shape):

* ``lsh_mins``  (doc, h0..h63)            — append-only per batch
* ``lsh_bands`` (doc, band_idx, band_hash) — append-only per batch
* ``lsh_pairs`` (doc_a, doc_b, est_jaccard) — append-only: each batch
  contributes batch-vs-corpus pairs (``extensions.dedup.batch_store_pairs``
  over the STORED band table, the leg ``incremental_dedup`` runs) plus
  batch-internal pairs (``minhash_near_dups``' band, cap, bucket join
  and verify over the batch alone)

Exactly-once visibility (the bloom sidecar at ``operators/layout.py``
tolerates partial updates because an unindexed file is merely
unprunable; here a double-applied batch would DUPLICATE postings and
pairs, so appends need a commit protocol):

* every appended row carries an opaque ``_token`` unique to the apply
  ATTEMPT; a tiny ``*_commits`` table (batch_id, token) — rewritten
  atomically via the TableStore pointer swap — is the visibility
  watermark. Readers semi-join the committed tokens (one row per
  batch: a broadcast, not a shuffle).
* apply order: idempotent rollups first (they skip an already-applied
  batch_id themselves), then the token-stamped appends, then the
  commit. Crash before the commit leaves orphan rows with a token
  that is never committed — invisible to every reader, reclaimable by
  ``vacuum_uncommitted``. Redelivery of a committed batch_id is a
  no-op. Net: at-least-once delivery, exactly-once visible state —
  the same contract ``maintain_additive_rollup_idempotent`` gives the
  streaming sinks.

Scale notes (100 TB corpus, GB-scale daily batch): nothing here scans
the stored corpus per batch — the corpus appears only behind
equi-joins on precomputed keys (content hash, band key, doc id). In
production the stored tables are hive-bucketed on those keys
(``operators/bucketing.py``) so only the batch side shuffles; the
commit/meta tables stay one-row-per-batch and broadcast.

Deletes (round 12 — the erasure half of the lifecycle): each index
family takes ERASURE increments under the same token-commit protocol
(``apply_*_deletes`` — O(deleted docs), idempotent on batch_id, a
doc never decrements twice). Readers anti-join the committed
tombstones, so erased rows leave every consumer — search results,
the df state (folded out additively at weight -1), the skew
measurement, the next retrain — atomically at the commit swap; the
physical bytes go at maintenance time (``fold_*_deletes`` for the
lexical/positional/LSH tables, the next ``rebuild_ivf_index`` for the
vector table), which is the ordering an erasure SLA needs: logical
now, physical by the next maintenance window.

One path for every family: each family is an ``IndexFamily``
descriptor — pure data naming its commit table, its tombstone table
and key, and each data table with the columns a tombstone masks. The
tombstone read, the live-row mask, the delete apply, the fold,
``next_batch_id``, compaction and vacuum are each ONE function over a
descriptor; the per-family public names delegate to them. Only the
apply builders (postings, MinHash/bands/pairs, IVF assignment and
rebuild) are per-family, because they are different algorithms.
"""

from __future__ import annotations

import uuid
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fabric_claims_spark.extensions.bpe import (
    _release_checkpoint,
    _tracked_checkpoint,
)
from fabric_claims_spark.extensions.similarity import (
    as_double_array,
    ivf_assign,
    kmeans_centroids,
)
from fabric_claims_spark.localframe import local_frame
from fabric_claims_spark.operators.rollup import (
    applied_watermark,
    maintain_additive_rollup_idempotent,
)
from fabric_claims_spark.sources.merge import TableStore

IVF_DOCMAP = "ivf_docmap"

LEX_POSTINGS = "lex_postings"
LEX_DOCLEN = "lex_doclen"
LEX_DF = "lex_df"
LEX_COMMITS = "lex_commits"
LEX_TOMBSTONES = "lex_tombstones"

LSH_MINS = "lsh_mins"
LSH_BANDS = "lsh_bands"
LSH_PAIRS = "lsh_pairs"
LSH_COMMITS = "lsh_commits"
LSH_TOMBSTONES = "lsh_tombstones"

IVF_VECS = "ivf_vecs"
IVF_CENTROIDS = "ivf_centroids"
IVF_COMMITS = "ivf_commits"
IVF_TOMBSTONES = "ivf_tombstones"

POS_POSTINGS = "pos_postings"
POS_COMMITS = "pos_commits"
POS_TOMBSTONES = "pos_tombstones"

_TOKEN = "_token"


@dataclass(frozen=True)
class IndexFamily:
    """One index family's tables, as data. Appends become visible
    through ``commits``; erasures land in ``tombstones`` keyed by
    ``key``. ``data`` pairs each data table with the columns a
    tombstone masks — a row leaves every view when ANY of them names
    an erased id; folds and compaction rewrite these tables. ``side``
    tables ride the same commit protocol but only a rebuild rewrites
    them: they are vacuumed, never folded or compacted, and a reader
    that masks one masks it on ``key``."""

    name: str
    commits: str
    tombstones: str
    key: str
    data: tuple[tuple[str, tuple[str, ...]], ...]
    side: tuple[str, ...] = ()


LEXICAL = IndexFamily(
    "lexical", LEX_COMMITS, LEX_TOMBSTONES, "doc_id",
    ((LEX_POSTINGS, ("doc_id",)), (LEX_DOCLEN, ("doc_id",))),
)
POSITIONAL = IndexFamily(
    "positional", POS_COMMITS, POS_TOMBSTONES, "doc_id",
    ((POS_POSTINGS, ("doc_id",)),),
)
LSH = IndexFamily(
    "lsh", LSH_COMMITS, LSH_TOMBSTONES, "doc_id",
    ((LSH_MINS, ("doc",)), (LSH_BANDS, ("doc",)),
     (LSH_PAIRS, ("doc_a", "doc_b"))),
)
IVF = IndexFamily(
    "ivf", IVF_COMMITS, IVF_TOMBSTONES, "vec_id",
    ((IVF_VECS, ("vec_id",)),), side=(IVF_DOCMAP, IVF_CENTROIDS),
)
# the order every fan-out (forget_documents, IndexMaintenance) visits
# the families in, and so the order of their audit rows
FAMILIES = (LEXICAL, POSITIONAL, LSH, IVF)


def family_tables(fam: IndexFamily) -> tuple[str, ...]:
    """Every token-stamped table of ``fam`` — what vacuum covers."""
    return (*(t for t, _ in fam.data), fam.tombstones, *fam.side)


# -- commit protocol ---------------------------------------------------------


def _read_commits(store: TableStore, commits_table: str) -> dict[int, str]:
    """batch_id → token, read driver-side (round 13, guide §1.2/§5:
    the commit table is one-row-per-batch METADATA — a Spark job per
    protocol check paid full job scheduling for a few hundred bytes,
    and the serving gates run dozens of such checks). ``read_local``
    serves both store backends, so the protocol has one path."""
    if not store.exists(commits_table):
        return {}
    t = store.read_local(commits_table)
    return {
        int(b): tok
        for b, tok in zip(
            t.column("batch_id").to_pylist(), t.column("token").to_pylist()
        )
    }


def _write_commits(
    store: TableStore, commits_table: str, commits: dict[int, str]
) -> None:
    """Atomic driver-side rewrite of a commit table (one data file,
    the store's usual atomic commit)."""
    import pyarrow as pa

    ids = sorted(commits)
    store.overwrite_local(
        commits_table,
        pa.table(
            {
                "batch_id": pa.array(ids, pa.int64()),
                "token": pa.array([commits[b] for b in ids], pa.string()),
            }
        ),
    )


# Committed-token visibility filter: up to this many committed batches
# the token set rides inline as a scan-pushable IN predicate (zero
# extra jobs); past it readers keep the broadcast semi-join (a
# production store with an unbounded commit history should be
# compacting its commit table anyway; the cap keeps plan size bounded
# either way).
_TOKEN_INLIST_CAP = 1024


def _committed(
    store: TableStore, table: str, commits_table: str, keep_token: bool = False
) -> DataFrame:
    """Only the rows whose token was committed."""
    rows = store.read(table)
    commits = _read_commits(store, commits_table)
    if len(commits) <= _TOKEN_INLIST_CAP:
        out = rows.where(F.col(_TOKEN).isin(sorted(set(commits.values()))))
    else:
        tokens = store.read(commits_table).select(
            F.col("token").alias(_TOKEN)
        )
        out = rows.join(F.broadcast(tokens), _TOKEN, "left_semi")
    return out if keep_token else out.drop(_TOKEN)


def _applied(store: TableStore, commits_table: str, batch_id: int) -> bool:
    return int(batch_id) in _read_commits(store, commits_table)


def _commit(
    store: TableStore, commits_table: str, batch_id: int, token: str
) -> None:
    # one row per committed batch — atomic overwrite, driver-side
    # (metadata write; no Spark job on the parquet store)
    commits = _read_commits(store, commits_table)
    commits[int(batch_id)] = token
    _write_commits(store, commits_table, commits)


def next_batch_id(store: TableStore) -> int:
    """The smallest batch_id safely above EVERY family's committed
    sequence in this store (round 13): builds, deletes, and the
    mutation streams' derived 2b/2b+1 ids all share one monotonic
    sequence per family, and a caller-guessed id collides silently
    (now audited as Skipped) or trips the stale-id guard. This reads
    each family's commit table (driver-side, one row per committed
    batch) and returns max+1 across all of them, so a
    ``forget_documents`` caller — or any out-of-band maintenance
    writer — gets a collision-free id without holding protocol state.
    Races between two concurrent allocators remain out of contract
    (the stores are single-writer by design, like every TableStore)."""
    return 1 + max(
        max(_read_commits(store, fam.commits), default=-1) for fam in FAMILIES
    )


def compact_index_table(
    store: TableStore, table: str, commits_table: str, n_files: int = 8
) -> int:
    """Rewrite the committed rows of ``table`` into one coalesced
    version (VERDICT r9 item 6): incremental maintenance leaves one
    token-stamped parquet append per increment, and at minutes-cadence
    increments the reader's file-listing/open cost grows linearly
    even though the DATA is bounded. Compaction = read committed rows
    (dropping any orphans for free), repartition to ``n_files``, one
    atomic pointer-swap overwrite. Tokens are RETAINED, so reader
    visibility is bit-identical before/after and the commit table
    needs no touch — a crash mid-compact leaves the old version
    current (the same torn-write contract every TableStore write
    carries). Returns the number of rows in the compacted version.
    A maintenance action, never on the apply path; in production it
    runs at a fixed increment count (e.g. every 100) or file-count
    threshold."""
    if not store.exists(table) or not store.exists(commits_table):
        return 0
    keep = _committed(store, table, commits_table, keep_token=True)
    store.overwrite(table, keep.repartition(n_files))
    # footer-metadata count of the version just written — no job
    return store.count_rows(table)


def index_file_count(store: TableStore, table: str) -> int:
    """Data files in the table's CURRENT version — the read-side cost
    driver compaction exists to bound (each increment appends at
    least one file; scans pay per-file listing/open). Metadata-only:
    ``TableStore.file_count``, no Spark job on the parquet store."""
    if not store.exists(table):
        return 0
    return store.file_count(table)


def maybe_compact_index_table(
    store: TableStore,
    table: str,
    commits_table: str,
    file_threshold: int = 64,
    n_files: int = 8,
) -> tuple[int, bool]:
    """File-count-triggered compaction policy (round 12 — the
    compaction twin of ``maybe_rebuild_ivf_index``'s skew trigger,
    so BOTH maintenance cadences are code, not runbook prose).
    SCALING.md round 10's compaction table shows reader wall growing
    linearly in increment count while the data stays fixed; the
    production trigger is therefore a threshold on the current
    version's file count. Below the threshold: strict no-op (no
    version churn — an empty rewrite would still swap pointers and
    invalidate caches). At or above: one ``compact_index_table``
    (committed rows → ``n_files``, tokens retained, reader
    visibility bit-identical). Returns (measured_file_count,
    compacted) so a scheduler can log the decision either way."""
    if file_threshold < 1:
        raise ValueError(
            f"file_threshold must be >= 1, got {file_threshold}"
        )
    fc = index_file_count(store, table)
    if fc < file_threshold:
        return fc, False
    compact_index_table(store, table, commits_table, n_files)
    return fc, True


def vacuum_uncommitted(store: TableStore, table: str, commits_table: str) -> int:
    """Reclaim orphan rows left by a crash between append and commit.
    Returns the number of rows removed. A maintenance action, never on
    the apply path.

    Fast path (round 14, guide §1.2/§6): every append stamps ONE token
    per file, so parquet footer min==max statistics decide whole files
    — orphan files are dropped by hardlinking only the committed ones
    into a new version, driver-side, zero Spark jobs (the post-rebuild
    vacuum of the entire pre-rebuild IVF index becomes a metadata
    operation). Mixed-token files (written by compaction/folds, which
    retain tokens) and Delta stores fall back to the row-level Spark
    rewrite."""
    if not store.exists(table) or not store.exists(commits_table):
        return 0
    removed = store.prune_files_by_value(
        table, _TOKEN, set(_read_commits(store, commits_table).values())
    )
    if removed is not None:
        return removed
    keep = _committed(store, table, commits_table, keep_token=True)
    # total from footer metadata (no job) — only `keep` needs a scan
    removed = store.count_rows(table) - keep.count()
    if removed:
        store.overwrite(table, keep)
    return removed


# -- tombstones, live rows, delete apply and fold (every family) -------------


def read_tombstones(store: TableStore, fam: IndexFamily) -> DataFrame:
    """(key) — the family's committed erasure set. Empty before the
    first delete, and again after the fold (for IVF: the rebuild) has
    applied it physically."""
    if not store.exists(fam.tombstones):
        return local_frame(store.spark, [], f"{fam.key} long")
    return (
        _committed(store, fam.tombstones, fam.commits)
        .select(fam.key)
        .distinct()
    )


def _mask(
    rows: DataFrame, tomb: DataFrame, fam: IndexFamily, table: str
) -> DataFrame:
    """Anti-join the erased ids out of ``rows`` on every column of
    ``table`` that a tombstone masks."""
    for col in dict(fam.data).get(table, (fam.key,)):
        rows = rows.join(tomb.withColumnRenamed(fam.key, col), col, "left_anti")
    return rows


def _live(
    store: TableStore,
    fam: IndexFamily,
    table: str,
    tomb: DataFrame | None = None,
) -> DataFrame:
    """Reader view of a family table: committed rows that no committed
    tombstone masks (until the fold drops them physically). Pass
    ``tomb`` to share one tombstone read across several tables — each
    read of a stored table costs a schema-inference job."""
    if tomb is None:
        tomb = read_tombstones(store, fam)
    return _mask(_committed(store, table, fam.commits), tomb, fam, table)


def _apply_deletes(
    store: TableStore,
    fam: IndexFamily,
    ids: DataFrame,
    batch_id: int,
    id_col: str,
    leg: Callable[[DataFrame], None] | None = None,
) -> bool:
    """Fold one ERASURE increment into ``fam``: the ids not already
    tombstoned append token-stamped to the tombstone table and become
    visible with the standard commit — readers anti-join them, so
    every masked row leaves every view at the commit swap. O(deleted
    ids); returns False when ``batch_id`` was already committed.

    ``leg`` is a family's extra erasure work (lexical: the df
    decrement); it gets the materialized new ids and runs before the
    tombstones land — the torn-apply window the build path documents,
    healed by redelivering the batch."""
    if _applied(store, fam.commits, batch_id):
        return False
    ids = (
        ids.select(F.col(id_col).alias(fam.key))
        .distinct()
        .join(read_tombstones(store, fam), fam.key, "left_anti")
    )
    cp: list = []
    try:
        if leg is not None:
            # the leg and the append both read the set: materialize once
            ids, cp = _tracked_checkpoint(ids)
            leg(ids)
        token = uuid.uuid4().hex
        store.append(fam.tombstones, ids.withColumn(_TOKEN, F.lit(token)))
        _commit(store, fam.commits, batch_id, token)
    finally:
        _release_checkpoint(cp)
    return True


def _fold_deletes(store: TableStore, fam: IndexFamily, n_files: int = 8) -> int:
    """Physically drop tombstoned rows from the family's data tables —
    the compaction-time half of the erasure contract (until this runs,
    erased rows are reader-invisible but still on disk; after it, the
    bytes are gone — what an erasure SLA actually requires). Returns
    the number of rows dropped.

    Swap order is reader-consistency-critical: the data tables fold
    FIRST (each swap is a no-op to readers — the anti-join already
    masked those rows), the tombstone table clears LAST. A crash
    anywhere in between leaves a state where the anti-join still
    masks whatever the fold hasn't dropped yet; clearing tombstones
    before the folds would resurrect erased rows. Only the
    SNAPSHOTTED ids clear (ADVICE r12): a delete increment committed
    between this fold's tombstone snapshot and its final swap
    survives in the tombstone table — still masked, folded by the
    next cadence — instead of being truncated away unapplied. Derived
    state folded at apply time (the lexical df rollup) is not
    touched. Maintenance action, never on the read path."""
    tomb, cp = _tracked_checkpoint(read_tombstones(store, fam))
    try:
        if tomb.head() is None:
            return 0
        dropped = 0
        for table, _cols in fam.data:
            if not store.exists(table):
                continue
            committed = _committed(store, table, fam.commits, keep_token=True)
            n = committed.count()
            store.overwrite(
                table, _mask(committed, tomb, fam, table).repartition(n_files)
            )
            # kept rows from the new version's footers — no second job
            dropped += n - store.count_rows(table)
        # tombstones cleared LAST (see above), and only the snapshot's
        # ids; the commit table keeps the delete batch_ids, so
        # redelivery of an old delete stays a no-op
        store.overwrite(
            fam.tombstones,
            store.read(fam.tombstones)
            .join(tomb, fam.key, "left_anti")
            .coalesce(1),
        )
        return dropped
    finally:
        _release_checkpoint(cp)


def fold_lexical_deletes(store: TableStore, n_files: int = 8) -> int:
    return _fold_deletes(store, LEXICAL, n_files)


def fold_positional_deletes(store: TableStore, n_files: int = 8) -> int:
    return _fold_deletes(store, POSITIONAL, n_files)


def fold_lsh_deletes(store: TableStore, n_files: int = 8) -> int:
    return _fold_deletes(store, LSH, n_files)


def apply_positional_deletes(
    store: TableStore, doc_ids: DataFrame, batch_id: int, id_col: str = "doc_id"
) -> bool:
    return _apply_deletes(store, POSITIONAL, doc_ids, batch_id, id_col)


def apply_lsh_deletes(
    store: TableStore, doc_ids: DataFrame, batch_id: int, id_col: str = "doc_id"
) -> bool:
    """A FUTURE batch's band keys can no longer pair against an erased
    doc (its band rows are masked) — a forgotten doc must not
    influence future dedup either."""
    return _apply_deletes(store, LSH, doc_ids, batch_id, id_col)


def apply_ivf_deletes(
    store: TableStore, vec_ids: DataFrame, batch_id: int, id_col: str = "vec_id"
) -> bool:
    """Every consumer reads through ``read_ivf_index`` (probes,
    ``ivf_bucket_skew``, the rebuild's retrain/reassign), so erased
    vectors leave search results, the skew measurement, AND the next
    retrain's training set at the commit swap. Deletion drift feeds
    the skew trigger, and the fired rebuild — which rewrites the
    index from live rows only — is the physical erasure."""
    return _apply_deletes(store, IVF, vec_ids, batch_id, id_col)


# -- lexical index -----------------------------------------------------------


def lexical_postings(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """The canonical posting-pair expressions — the exact shape
    ``docs_posting_lists`` / ``docs_hybrid_rrf_indexed`` pin (distinct
    whitespace-token explode over non-blank docs)."""
    return (
        docs.where(F.length(F.trim(F.col(text_col))) > 0)
        .select(
            F.col(id_col).alias("doc_id"),
            F.explode(F.split(F.trim(text_col), r"\s+")).alias("term"),
        )
        .distinct()
    )


def apply_lexical_batch(
    store: TableStore,
    batch_docs: DataFrame,
    batch_id: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> bool:
    """Fold one corpus increment into the stored lexical index.
    O(batch) work; idempotent on ``batch_id``; documents are treated
    as append-only (the immutable-corpus-snapshot shape — a rewrite
    pipeline versions whole partitions instead). Returns True when
    the increment was applied by THIS call, False when the batch_id
    was already committed (redelivery no-op) — so callers can audit
    the real outcome instead of assuming success (ADVICE r12)."""
    if _applied(store, LEX_COMMITS, batch_id):
        return False
    # Write-then-derive (round 14, guide §1.2; replaces the r13
    # tracked checkpoint): the explode+distinct postings pipeline
    # materializes ONCE, directly into its token-stamped (invisible)
    # append; the df rollup and the doclen aggregate re-read the
    # just-written parquet. Torn-apply safety is unchanged — every
    # crash window leaves either vacuumable orphan rows or an
    # idempotently-skipped rollup, and redelivery heals both.
    token = uuid.uuid4().hex
    store.append(
        LEX_POSTINGS,
        lexical_postings(batch_docs, id_col, text_col).withColumn(
            _TOKEN, F.lit(token)
        ),
    )
    td = store.read(LEX_POSTINGS).where(F.col(_TOKEN) == token).drop(_TOKEN)
    # df rollup — itself idempotent on batch_id, so a torn apply
    # re-runs safely
    maintain_additive_rollup_idempotent(
        store, LEX_DF, td, batch_id, keys=["term"], count_col="df"
    )
    store.append(
        LEX_DOCLEN,
        td.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn(_TOKEN, F.lit(token)),
    )
    # visibility commit
    _commit(store, LEX_COMMITS, batch_id, token)
    return True


def read_lexical_index(
    store: TableStore,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(postings, df, doclen) — committed, live rows only. The df
    rollup is exactly-once by construction (idempotent fold — delete
    batches fold their decrements in the same way), so it reads
    directly; postings/doclen rows of tombstoned docs are masked by
    an anti-join until ``fold_lexical_deletes`` drops them
    physically. Terms whose every doc was erased carry df=0 in the
    additive state — filtered here so consumers (and the hash gates)
    see exactly the vocabulary a fresh build over the surviving
    corpus would produce."""
    tomb = read_tombstones(store, LEXICAL)
    td = _live(store, LEXICAL, LEX_POSTINGS, tomb)
    dn = _live(store, LEXICAL, LEX_DOCLEN, tomb)
    dfc = (
        store.read(LEX_DF)
        .select("term", F.col("df").cast("long").alias("df"))
        .where(F.col("df") > 0)
    )
    return td, dfc, dn


def apply_lexical_deletes(
    store: TableStore,
    doc_ids: DataFrame,
    batch_id: int,
    id_col: str = "doc_id",
) -> bool:
    """Fold one ERASURE increment into the stored lexical index —
    the right-to-be-forgotten path (round 12; reference scope: the
    masking/erasure governance family, SURVEY §2.12, extended to the
    serving indexes). Returns True when the erasure was applied by
    THIS call, False when the batch_id was already committed
    (redelivery — or a caller-chosen id colliding with an earlier
    build/delete batch; either way the caller can now audit the real
    outcome, ADVICE r12). A batch_id strictly BELOW the df rollup's
    applied watermark that is NOT in the commit table raises: the
    tombstones would land but the df decrement would be silently
    swallowed by the rollup's idempotence gate, leaving the index
    internally inconsistent (the masked/folded state would no longer
    equal a fresh build over survivors). O(deleted docs) work, never
    a corpus re-scan:

    1. The delete set is reduced to docs that are indexed AND not
       already tombstoned (a second delete of the same doc — in this
       batch or a previous one — must not decrement df twice).
    2. The df rollup folds the deleted docs' postings back OUT with
       the same idempotent additive fold the build path uses, at
       weight -1 (``partial_rollup(weight_col=...)`` — counts form a
       group, not just a monoid, so retraction is one more fold).
    3. The doc ids append token-stamped to ``lex_tombstones`` and
       become visible with the standard commit (``_apply_deletes``;
       steps 1-2 are its lexical leg).

    Deletes share the build path's ``batch_id`` sequence (the rollup
    skips ids at or below the last applied, so ids must be issued
    monotonically across BOTH kinds of increment — the caller's
    scheduler owns the sequence, exactly as for builds). Documents
    are append-only snapshots; a deleted doc_id is never re-added
    (re-ingest is a new doc_id), so tombstones never need unmasking.

    Id coordination: builds, deletes, and ``corpus_mutation_stream``
    micro-batches (which map micro-batch b to protocol ids 2b for
    adds and 2b+1 for deletes) all draw from ONE monotonic sequence
    per family — a ``forget_documents`` caller running beside the
    stream must take its ids from the same scheduler (e.g. beyond
    the stream's current 2b+1 high-water mark), or the collision is
    surfaced as a skipped apply / a stale-id ValueError here rather
    than silently mis-recorded (ADVICE r12).
    """

    def decrement(ids: DataFrame) -> None:
        applied = applied_watermark(store, LEX_DF)
        if applied is not None and int(batch_id) < int(applied):
            raise ValueError(
                f"apply_lexical_deletes: batch_id {batch_id} is below "
                f"the df rollup's applied watermark {applied} and not "
                "committed — the decrement would be silently skipped. "
                "Issue delete ids from the family's monotonic sequence."
            )
        # terms of the docs being erased — equi-join bounded by the
        # delete set (tiny side; AQE broadcasts it)
        td_del, cp = _tracked_checkpoint(
            _committed(store, LEX_POSTINGS, LEX_COMMITS)
            .join(ids, "doc_id", "left_semi")
            .withColumn("_w", F.lit(-1))
        )
        try:
            maintain_additive_rollup_idempotent(
                store,
                LEX_DF,
                td_del,
                batch_id,
                keys=["term"],
                count_col="df",
                weight_col="_w",
            )
        finally:
            _release_checkpoint(cp)

    return _apply_deletes(store, LEXICAL, doc_ids, batch_id, id_col, decrement)


# -- positional index --------------------------------------------------------
#
# The phrase-query extension of the lexical family: positions make
# exact-phrase and proximity queries answerable from the store
# (docs_phrase_search_positional is the in-plan twin). Positions are
# per-occurrence rows — NOT distinct like lex_postings — so the table
# is token-stream-sized; per-term bucketing is the production layout
# (a phrase lookup reads only its terms' buckets).


def positional_postings(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, term, pos) with pos the 0-based token index — the
    canonical positional-posting expressions, shared verbatim by the
    in-plan phrase query and the stored-index apply path."""
    return (
        docs.where(F.length(F.trim(F.col(text_col))) > 0)
        .select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(F.split(F.trim(text_col), r"\s+")).alias(
                "pos", "term"
            ),
        )
        .select("doc_id", "term", "pos")
    )


def apply_positional_batch(
    store: TableStore,
    batch_docs: DataFrame,
    batch_id: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> bool:
    """Fold one corpus increment into the stored positional index —
    O(batch) append under the standard token-commit protocol
    (idempotent on batch_id; orphans from a torn apply stay invisible
    and vacuumable). Returns applied-by-this-call (False =
    already-committed no-op; ADVICE r12 audit contract)."""
    if _applied(store, POS_COMMITS, batch_id):
        return False
    rows = positional_postings(batch_docs, id_col, text_col)
    token = uuid.uuid4().hex
    store.append(POS_POSTINGS, rows.withColumn(_TOKEN, F.lit(token)))
    _commit(store, POS_COMMITS, batch_id, token)
    return True


def read_positional_index(store: TableStore) -> DataFrame:
    """(doc_id, term, pos) — committed, live rows only (tombstoned
    docs anti-joined out until ``fold_positional_deletes``)."""
    return _live(store, POSITIONAL, POS_POSTINGS)


def phrase_occurrences(positions: DataFrame, phrase: DataFrame) -> DataFrame:
    """Exact-phrase occurrences via the position-adjacency join:
    ``phrase`` is a one-row (w1, .., wn) frame (broadcast, any n >= 1
    — round 11 generalized the fixed 3-term shape); leg i joins term
    wi's postings on (doc_id, pos + i - 1). Returns one row per
    occurrence (doc_id, w1, .., wn). At scale each leg touches only
    its term's posting bucket; the adjacency joins are equi-joins on
    (doc_id, pos±k), so an n-term phrase costs n bucket reads and
    n - 1 equi-joins."""
    terms = list(phrase.columns)
    if terms != [f"w{i}" for i in range(1, len(terms) + 1)] or not terms:
        raise ValueError(
            "phrase_occurrences: phrase frame must have columns "
            f"w1..wn in order, got {terms!r}"
        )
    m = positions.alias("p1").join(
        F.broadcast(phrase), F.col("p1.term") == F.col("w1")
    )
    for i in range(2, len(terms) + 1):
        m = m.join(
            positions.alias(f"p{i}"),
            (F.col(f"p{i}.doc_id") == F.col("p1.doc_id"))
            & (F.col(f"p{i}.pos") == F.col("p1.pos") + (i - 1))
            & (F.col(f"p{i}.term") == F.col(f"w{i}")),
        )
    return m.select(F.col("p1.doc_id").alias("doc_id"), *terms)


# -- LSH near-dup index ------------------------------------------------------


def apply_lsh_batch(
    store: TableStore,
    batch_docs: DataFrame,
    batch_id: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    num_hashes: int = 64,
    bands: int = 16,
    k: int = 5,
    hasher: str = "xxhash64",
    bucket_cap: int = 64,
) -> bool:
    """Fold one corpus increment into the stored near-dup index:
    signatures + band keys for the batch (O(batch)), new pairs =
    batch-vs-corpus (``batch_store_pairs`` against the STORED band
    table, ``incremental_dedup``'s leg) plus batch-internal pairs.
    The stored pair table is append-only: pairs, once found, never
    change (signatures are pure functions of immutable text).

    Capping note: the cap is evaluated against the band table AS OF
    this batch — the same order-dependence every incremental LSH has.
    Consumers that need the one-shot capping semantics rebuild from
    ``lsh_mins`` (which is cap-free and lossless).

    Raises ValueError, before writing anything, on ``bands`` that do
    not divide ``num_hashes`` or a ``bucket_cap`` below 1. Returns
    applied-by-this-call."""
    from fabric_claims_spark.extensions.dedup import (
        _minhash_mins,
        _shingle_frame,
        band,
        batch_store_pairs,
        bucket_pairs,
        cap_buckets,
        check_bucket_cap,
        minhash_band_keys,
        minhash_verify,
    )

    if _applied(store, LSH_COMMITS, batch_id):
        return False
    # bad blocking parameters fail before anything is written
    keys = minhash_band_keys(num_hashes, bands, hasher)
    check_bucket_cap(bucket_cap)
    token = uuid.uuid4().hex
    # Write-then-derive: the shingle scan + 64-slot signature aggregate
    # materializes ONCE, directly into its stored table; every derived
    # frame (band keys, batch-internal and cross pairs) re-reads the
    # just-written parquet — a tiny scan plan with the token filter
    # pushed to the file stats. Appends stay invisible until the
    # commit; a torn apply leaves vacuumable orphans.
    store.append(
        LSH_MINS,
        _minhash_mins(
            _shingle_frame(batch_docs, id_col, text_col, k, "char"),
            num_hashes,
            hasher,
        ).withColumn(_TOKEN, F.lit(token)),
    )
    mins_b = (
        store.read(LSH_MINS).where(F.col(_TOKEN) == token).drop(_TOKEN)
    )
    store.append(
        LSH_BANDS, band(mins_b, "doc", keys).withColumn(_TOKEN, F.lit(token))
    )
    bands_b = (
        store.read(LSH_BANDS).where(F.col(_TOKEN) == token).drop(_TOKEN)
    )
    # batch-internal pairs (first batch: this IS the full build), from
    # the just-written signatures and band keys
    pairs_new = minhash_verify(
        bucket_pairs(cap_buckets(bands_b, bucket_cap), "doc"),
        mins_b,
        mins_b,
        num_hashes,
        threshold,
    )
    # cross pairs only against PRIOR committed increments (our own
    # just-appended rows are invisible until the commit below), and
    # only their live rows: an erased doc's band/signature rows must
    # not pair against future batches
    if _read_commits(store, LSH_COMMITS):
        tomb = read_tombstones(store, LSH)
        cross = batch_store_pairs(
            bands_b,
            mins_b,
            _live(store, LSH, LSH_BANDS, tomb),
            _live(store, LSH, LSH_MINS, tomb),
            num_hashes,
            threshold,
            bucket_cap,
        ).select(
            # canonical pair order (doc_a < doc_b), independent of
            # which increment a doc arrived in
            F.least("doc", "store_doc").alias("doc_a"),
            F.greatest("doc", "store_doc").alias("doc_b"),
            "est_jaccard",
        )
        pairs_new = pairs_new.unionByName(cross)

    store.append(
        LSH_PAIRS, pairs_new.distinct().withColumn(_TOKEN, F.lit(token))
    )
    _commit(store, LSH_COMMITS, batch_id, token)
    return True


def read_lsh_pairs(store: TableStore) -> DataFrame:
    """(doc_a, doc_b, est_jaccard) — committed, live rows only: a
    pair leaves the view when EITHER endpoint is erased (a cluster
    consumer must never link through a forgotten doc)."""
    return _live(store, LSH, LSH_PAIRS)


# -- IVF vector index ----------------------------------------------------------


def apply_ivf_batch(
    store: TableStore,
    batch_vectors: DataFrame,
    batch_id: int,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    doc_col: str | None = None,
) -> bool:
    """Fold one vector increment into the stored IVF index: assign
    each new vector to its nearest FIXED coarse centroid and append
    token-stamped (vec_id, ev, assigned_centroid, centroid_sim) rows.

    ``doc_col`` (round 13, VERDICT r12 item 4): when the batch
    carries the source document id, a (vec_id, doc_id) row lands in
    the ``ivf_docmap`` table under the SAME token — committed
    atomically with the vectors — so a later ``forget_documents``
    call can resolve doc_ids to vec_ids itself instead of requiring
    the caller to remember the mapping (the complete-by-default
    erasure contract). Returns applied-by-this-call (ADVICE r12
    audit contract).

    The quantizer is trained once at index build and held fixed
    across increments (the FAISS discipline — re-training moves every
    existing bucket boundary, so that is an index REBUILD, not
    maintenance). ``centroids`` is the (centroid_id, cv) frame, k
    rows, broadcast; assignment is the shared ``ivf_assign`` that
    ``embeddings_ivf_assign`` also calls, so the stored assignment
    hash-matches the one-shot query. The stored corpus is never
    re-scanned. Same commit protocol as the lexical/LSH indexes:
    token-stamped appends, atomic commit, redelivery no-op."""
    if _applied(store, IVF_COMMITS, batch_id):
        return False
    e = batch_vectors.select(
        F.col(id_col).alias("vec_id"), as_double_array(vec_col).alias("ev")
    )
    assigned = ivf_assign(e, centroids)
    token = uuid.uuid4().hex
    store.append(IVF_VECS, assigned.withColumn(_TOKEN, F.lit(token)))
    if doc_col is not None:
        store.append(
            IVF_DOCMAP,
            batch_vectors.select(
                F.col(id_col).alias("vec_id"),
                F.col(doc_col).alias("doc_id"),
            ).withColumn(_TOKEN, F.lit(token)),
        )
    _commit(store, IVF_COMMITS, batch_id, token)
    return True


def rebuild_ivf_index(
    store: TableStore,
    k: int = 8,
    iters: int = 3,
    sample_cap: int | None = None,
) -> list[tuple[int, list[float]]]:
    """Index REBUILD — the contract ``apply_ivf_batch`` names but
    round 9 left unimplemented: retraining the quantizer moves every
    bucket boundary, so it cannot be folded incrementally; it is a
    full retrain + reassign + atomic swap.

    1. RETRAIN on the committed vectors
       (``kmeans_centroids(sample_cap=…)`` — sampled training bounds
       the paper-scale k·n cost; seeds = the k smallest committed
       vec_ids, the oracle-pinned rule).
    2. REASSIGN every committed vector to the new centroids with the
       shared ``ivf_assign`` (extensions/similarity.py) —
       broadcast-join shaped, one linear pass, never pair-shaped.
    3. ATOMIC SWAP under the existing commit protocol: the new
       assignment rows and the new quantizer rows (``ivf_centroids``)
       append token-stamped and INVISIBLE, then one pointer-swap
       overwrite of the commit table re-points every previously
       committed batch_id at the rebuild token. That single swap
       flips readers from the old index (vectors AND quantizer) to
       the rebuilt one; a crash before it leaves the old index fully
       intact with reclaimable orphans, and redelivery of any
       pre-rebuild batch_id stays a no-op because the batch_ids
       survive the swap.
    4. VACUUM the pre-rebuild rows (now invisible by the swap) — a
       maintenance rewrite, never on the read path.

    Returns the retrained centroids (driver state, k·dim doubles).
    Consumers pick the new quantizer up via ``read_ivf_centroids``
    for post-rebuild ``apply_ivf_batch`` calls and probe routing.
    """
    if not store.exists(IVF_COMMITS):
        raise ValueError("rebuild_ivf_index: no committed index to rebuild")
    committed = read_ivf_index(store).select("vec_id", "ev")
    # live doc→vec rows must survive the commit swap (their append
    # tokens are un-committed by it): snapshot them now, re-append
    # under the rebuild token below. Tombstoned vectors' rows drop
    # here — the rebuild is their physical erasure, mapping included.
    live_docmap, cp_docmap = None, []
    if store.exists(IVF_DOCMAP):
        live_docmap, cp_docmap = _tracked_checkpoint(
            _live(store, IVF, IVF_DOCMAP)
        )
    cents = kmeans_centroids(
        committed,
        k=k,
        iters=iters,
        id_col="vec_id",
        vec_col="ev",
        sample_cap=sample_cap,
    )
    cent_df = local_frame(
        store.spark,
        [(int(cid), [float(x) for x in cv]) for cid, cv in cents],
        "centroid_id long, cv array<double>",
    )
    assigned = ivf_assign(committed, F.broadcast(cent_df))
    token = uuid.uuid4().hex
    # appends are invisible until the commit swap (readers semi-join
    # committed tokens); the append itself reads the OLD version's
    # files and writes a new version dir, so the lazy self-read is
    # safe under the TableStore pointer-swap contract
    store.append(IVF_VECS, assigned.withColumn(_TOKEN, F.lit(token)))
    store.append(IVF_CENTROIDS, cent_df.withColumn(_TOKEN, F.lit(token)))
    if live_docmap is not None:
        store.append(IVF_DOCMAP, live_docmap.withColumn(_TOKEN, F.lit(token)))
    # driver-side swap: every committed batch_id re-points at the
    # rebuild token in one metadata write
    _write_commits(
        store, IVF_COMMITS, dict.fromkeys(_read_commits(store, IVF_COMMITS), token)
    )
    # Everything appended before the swap is an orphan now: the old
    # vectors and quantizer, the old docmap rows (the live snapshot
    # re-landed above — the mapping's physical erasure for tombstoned
    # vectors), and the tombstones themselves (erased vectors were
    # never reassigned; their batch_ids stay committed, so redelivery
    # remains a no-op). Reclaim them all.
    for table in family_tables(IVF):
        vacuum_uncommitted(store, table, IVF_COMMITS)
    _release_checkpoint(cp_docmap)
    return cents


def read_ivf_index(store: TableStore) -> DataFrame:
    """(vec_id, ev, assigned_centroid, centroid_sim) — committed,
    live rows only (tombstoned vectors anti-joined out until a
    rebuild drops them physically). In production this table is
    written bucketed on ``assigned_centroid`` (operators/bucketing.py)
    so a probe reads only its buckets; the gate consumers filter on
    the column, which partition-prunes the same way."""
    return _live(store, IVF, IVF_VECS)


def read_ivf_docmap(store: TableStore) -> DataFrame:
    """(vec_id, doc_id) — the committed, live doc→vec mapping
    (populated when ``apply_ivf_batch`` is called with ``doc_col``;
    round 13). Tombstoned vectors' rows are masked here and dropped
    physically at the next rebuild, exactly like the vectors
    themselves. ``forget_documents`` resolves doc-keyed erasure
    requests to vec_ids through this view, so one request covers the
    vector family without the caller holding the mapping."""
    if not store.exists(IVF_DOCMAP):
        return local_frame(store.spark, [], "vec_id long, doc_id long")
    return _live(store, IVF, IVF_DOCMAP)


def read_ivf_centroids(store: TableStore) -> DataFrame:
    """(centroid_id, cv) — the committed quantizer, k rows (always
    broadcast-sized). Populated by ``rebuild_ivf_index``; before the
    first rebuild the build-time quantizer is caller state (it was
    the ``centroids`` argument to every ``apply_ivf_batch``), so this
    returns empty — the same one-commit-table visibility rule as the
    vectors, which is what makes the rebuild swap atomic across both
    tables."""
    if not store.exists(IVF_CENTROIDS):
        return local_frame(
            store.spark, [], "centroid_id long, cv array<double>"
        )
    return _committed(store, IVF_CENTROIDS, IVF_COMMITS)


def stored_quantizer_size(store: TableStore) -> int:
    """Committed centroid count — k rows of BOUNDED metadata-class
    state, read driver-side (``read_local`` + token filter; round 14,
    guide §1.2/§5: the rebuild policy and the maintenance runner each
    paid a full count job here per decision)."""
    if not store.exists(IVF_CENTROIDS):
        return 0
    toks = set(_read_commits(store, IVF_COMMITS).values())
    col = store.read_local(IVF_CENTROIDS).column(_TOKEN).to_pylist()
    return sum(1 for v in col if v in toks)


def ivf_bucket_skew(store: TableStore, k: int | None = None) -> float:
    """Max/mean committed bucket population — the rebuild-trigger
    measurement (SCALING.md round 10: drift rots bucket BALANCE long
    before it rots recall, so the policy reads this one bounded
    groupBy — at most k rows out of the aggregate — instead of paying
    for a recall evaluation). The mean is n/k over ALL quantizer
    buckets: an empty bucket is skew evidence, not a missing row, and
    this matches the measured crossover table (SCALING.md "IVF
    maintenance vs REBUILD crossover").

    ``k`` comes from the stored quantizer when a rebuild has
    published one (``read_ivf_centroids``); before the first rebuild
    the quantizer is caller state, so the caller must pass its size.
    """
    if k is None:
        k = stored_quantizer_size(store)
        if k == 0:
            raise ValueError(
                "ivf_bucket_skew: no stored quantizer — pass k explicitly"
            )
    row = (
        read_ivf_index(store)
        .groupBy("assigned_centroid")
        .agg(F.count(F.lit(1)).alias("bn"))
        .agg(
            F.max("bn").alias("mx"),
            F.sum("bn").alias("n"),
        )
        .head()
    )
    if row is None or row["n"] is None or row["n"] == 0:
        raise ValueError("ivf_bucket_skew: empty index")
    return float(row["mx"]) / (float(row["n"]) / float(k))


def maybe_rebuild_ivf_index(
    store: TableStore,
    skew_threshold: float = 2.5,
    k: int | None = None,
    iters: int = 3,
    sample_cap: int | None = None,
) -> tuple[float, list[tuple[int, list[float]]] | None]:
    """Skew-triggered rebuild policy (VERDICT r10 item 4): the
    crossover measurement says one rebuild costs about two
    incremental applies and restores both bucket balance and probe
    cost, so the production trigger is a threshold on
    ``ivf_bucket_skew`` — SCALING.md round 10 names the ~2-3 band
    (healthy builds sit near 1.2-1.5; the drifted fixture reached
    4.15 with probe candidate share 0.448 vs the 0.25 ideal).

    Reads the one bounded groupBy; below the threshold it is a no-op
    (the store is untouched — no appends, no commit swap). At or
    above it, delegates to ``rebuild_ivf_index`` with the same
    training knobs. Returns ``(measured_skew, retrained_centroids or
    None)`` so a scheduler can log the decision either way.

    ``k`` is the quantizer size BEFORE the first rebuild only (the
    build-time quantizer is caller state — ``read_ivf_centroids`` is
    empty until a rebuild publishes one). Once the store carries a
    committed quantizer, its row count is authoritative for both the
    skew denominator and the rebuild's retrain size (ADVICE r11:
    measuring max/mean against a caller k that disagrees with the
    stored quantizer under- or over-triggers, and a fired rebuild
    would silently re-key the index to the passed k). A caller that
    passes a conflicting explicit k gets a ValueError, not a silent
    re-key — intentional re-keying is ``rebuild_ivf_index(k=...)``.
    """
    stored_k = stored_quantizer_size(store)
    if stored_k:
        if k is not None and k != stored_k:
            raise ValueError(
                f"maybe_rebuild_ivf_index: explicit k={k} conflicts "
                f"with the stored quantizer ({stored_k} centroids); "
                "pass k=None to follow the store, or re-key "
                "explicitly via rebuild_ivf_index"
            )
        k = stored_k
    elif k is None:
        raise ValueError(
            "maybe_rebuild_ivf_index: no stored quantizer yet — pass "
            "the build-time k explicitly"
        )
    skew = ivf_bucket_skew(store, k=k)
    if skew < skew_threshold:
        return skew, None
    return skew, rebuild_ivf_index(
        store, k=k, iters=iters, sample_cap=sample_cap
    )
