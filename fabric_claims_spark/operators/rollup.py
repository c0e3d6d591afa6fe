"""Incremental aggregate maintenance — the 100 TB alternative to
re-aggregating a fact table per run.

A gold rollup keyed on a bounded domain (status × priority, date ×
region …) never needs to re-scan history: each batch contributes
PARTIAL aggregates, and any additively-mergeable measure (count, sum,
min, max — and everything derivable from them: avg, rates) folds into
the stored state with one union + re-aggregate over rollup-sized
data. The fact scan is only ever the new batch.

The merge is state-size work, not history-size work: the rollup has
one row per key combination, so rewriting it costs ~|domain| rows
regardless of how much history it summarizes. For rollups too large
to rewrite (high-cardinality keys), layer this on
``TableStore.merge(partition_col=…)`` so only partitions touched by
the batch rewrite.

Correctness rests on the measures forming a commutative monoid
(count/sum) or semilattice (min/max): batch order cannot matter. The
gate query ``incremental_rollup_equivalence`` hash-checks multi-batch
maintenance against the one-shot aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fabric_claims_spark.sources.merge import TableStore


def partial_rollup(
    batch: DataFrame,
    keys: list[str],
    sum_cols: list[str] | None = None,
    min_cols: list[str] | None = None,
    max_cols: list[str] | None = None,
    count_col: str = "n",
    weight_col: str | None = None,
) -> DataFrame:
    """One batch's contribution: the same shape as the stored state.

    ``weight_col`` makes the count measure a SIGNED weighted count
    (``sum(weight)`` instead of ``count(*)``): the additive monoid
    extends from N to Z, which is what retraction increments need —
    an erasure batch folds in with weight -1 and the merged state is
    the state a fresh build over the surviving rows would produce
    (the serving-index delete path, round 12). min/max measures stay
    insert-only: they are a semilattice, not a group, so a retraction
    cannot be expressed additively — callers with min/max columns
    must rebuild those instead.
    """
    if weight_col is not None and (min_cols or max_cols):
        raise ValueError(
            "signed retraction batches cannot maintain min/max "
            "measures (semilattice, not a group) — rebuild those"
        )
    count_measure = (
        F.count(F.lit(1))
        if weight_col is None
        else F.sum(weight_col)
    )
    aggs = [count_measure.cast("long").alias(count_col)]
    aggs += [F.sum(c).alias(c) for c in (sum_cols or [])]
    aggs += [F.min(c).alias(c) for c in (min_cols or [])]
    aggs += [F.max(c).alias(c) for c in (max_cols or [])]
    return batch.groupBy(*keys).agg(*aggs)


def _merge_aggs(
    count_col: str,
    sum_cols: list[str] | None,
    min_cols: list[str] | None,
    max_cols: list[str] | None,
) -> list:
    aggs = [F.sum(count_col).cast("long").alias(count_col)]
    aggs += [F.sum(c).alias(c) for c in (sum_cols or [])]
    aggs += [F.min(c).alias(c) for c in (min_cols or [])]
    aggs += [F.max(c).alias(c) for c in (max_cols or [])]
    return aggs


def maintain_additive_rollup(
    store: TableStore,
    table: str,
    batch: DataFrame,
    keys: list[str],
    sum_cols: list[str] | None = None,
    min_cols: list[str] | None = None,
    max_cols: list[str] | None = None,
    count_col: str = "n",
) -> DataFrame:
    """Fold one batch into the stored rollup and return the new
    state. The union + re-aggregate runs over |rollup| + |batch
    partials| rows — never over history."""
    partial = partial_rollup(
        batch, keys, sum_cols, min_cols, max_cols, count_col
    )
    if store.exists(table):
        cur = store.read(table)
        partial = (
            cur.unionByName(partial)
            .groupBy(*keys)
            .agg(*_merge_aggs(count_col, sum_cols, min_cols, max_cols))
        )
    store.overwrite(table, partial)
    return store.read(table)


# Constant column carrying the highest micro-batch id folded into the
# state. Committed in the SAME versioned-pointer swap as the data, so
# "was this batch applied?" and the fold itself are a single atomic
# commit — no sidecar file that could diverge from the state between
# a crash and its restart.
APPLIED_BATCH_COL = "_applied_batch_id"


def applied_watermark(store: TableStore, table: str) -> int | None:
    """max(APPLIED_BATCH_COL) of the stored rollup, or None when the
    table does not exist.

    Parquet fallback (round 13, guide §1.2/§6): the column is a
    constant per version, so the answer sits in every file's footer
    statistics — read them driver-side instead of paying a Spark
    aggregate job per protocol check (the same metadata-not-jobs rule
    the commit tables follow). Any file without usable stats falls
    back to the one-row Spark aggregate, and so does every store
    ``TableStore.footer_stats`` cannot answer (Delta, partitioned)."""
    if not store.exists(table):
        return None
    try:
        stats = store.footer_stats(table, APPLIED_BATCH_COL)
        if stats is not None:
            mx: int | None = None
            for groups in stats.values():
                for rows, st in groups:
                    if rows == 0:
                        continue
                    if st is None or not st.has_min_max:
                        raise LookupError("no footer stats")
                    v = int(st.max)
                    mx = v if mx is None else max(mx, v)
            return mx
    except Exception:
        pass  # unreadable footer/stats: authoritative Spark path
    row = store.read(table).select(F.max(APPLIED_BATCH_COL)).head()
    return None if row is None or row[0] is None else int(row[0])


def maintain_additive_rollup_idempotent(
    store: TableStore,
    table: str,
    batch: DataFrame,
    batch_id: int,
    keys: list[str],
    sum_cols: list[str] | None = None,
    min_cols: list[str] | None = None,
    max_cols: list[str] | None = None,
    count_col: str = "n",
    weight_col: str | None = None,
) -> DataFrame:
    """At-least-once-safe fold for ``foreachBatch`` sinks.

    Structured Streaming's ``foreachBatch`` is at-least-once: after a
    crash between sink completion and checkpoint commit, the SAME
    micro-batch (same ``batch_id``, same rows) is redelivered on
    restart. A plain additive fold would double-count it; this variant
    skips any ``batch_id`` at or below the last applied one, making
    redelivery a no-op and the end state exactly-once.

    ``weight_col``: see ``partial_rollup`` — a signed weighted count,
    the retraction path (erasure increments fold in with weight -1)."""
    if store.exists(table):
        cur = store.read(table)
        applied = applied_watermark(store, table)
        if applied is not None and batch_id <= applied:
            return cur.drop(APPLIED_BATCH_COL)
        partial = partial_rollup(
            batch, keys, sum_cols, min_cols, max_cols, count_col,
            weight_col,
        )
        state = (
            cur.drop(APPLIED_BATCH_COL)
            .unionByName(partial)
            .groupBy(*keys)
            .agg(*_merge_aggs(count_col, sum_cols, min_cols, max_cols))
        )
    else:
        state = partial_rollup(
            batch, keys, sum_cols, min_cols, max_cols, count_col,
            weight_col,
        )
    store.overwrite(
        table,
        state.withColumn(APPLIED_BATCH_COL, F.lit(batch_id).cast("long")),
    )
    return store.read(table).drop(APPLIED_BATCH_COL)
