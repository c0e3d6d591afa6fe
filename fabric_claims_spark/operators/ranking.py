"""Distributed total-order ranking without a single-partition window.

``Window.orderBy(...)`` with no partitionBy moves every row to ONE
partition (Spark warns "moving all data to a single partition") — a
scale-killer the moment the frame is fact-sized. The classic fix is
the distributed selection pattern: range-repartition on the sort key
(contiguous, ordered buckets), rank within each bucket in parallel,
and add per-bucket offsets computed from the (bounded, one row per
bucket) size census. Global rank = bucket offset + local rank, exact
under the same total order, and every stage is partition-parallel.

Used by queries/stats.order_value_quartiles to reproduce NTILE
semantics bit-exactly at any scale; reusable for top-N-overall,
median-by-rank, and percentile cut-point extraction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from fabric_claims_spark.caching import tracked_cache


def with_global_rank(
    df: DataFrame,
    sort_cols: list[str],
    num_partitions: int | None = None,
    rank_col: str = "_rank",
) -> tuple[DataFrame, int]:
    """Attach a 1-based dense global row rank under ``sort_cols``
    (ascending; make the key total — include a tiebreaker column — or
    ties are broken by range-bucket assignment).

    Returns ``(ranked_df, total_rows)``.

    The bucket-size census and the per-bucket ranking read ONE cached
    range-partitioned frame (``tracked_cache``, materialized by the
    ``total_rows`` count), so both see the same bucket of every row.
    Every evaluation of a range exchange samples its own bounds, and
    the sample depends on the order rows reach it; when the two
    branches were two evaluations of one plan, column pruning made
    them differ, ReuseExchange could not merge them, and offsets
    drifted against the ranked rows (observed:
    ``events_user_rfm_segments``, three chained ranks at sf0.1, a new
    hash on every run). The cumulative-offset window runs over bucket
    COUNTS (P rows), never data rows.
    """
    spark = df.sparkSession
    p = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    ranked = tracked_cache(
        df.repartitionByRange(p, *sort_cols).withColumn(
            "_pid", F.spark_partition_id()
        )
    )
    sizes = ranked.groupBy("_pid").agg(F.count(F.lit(1)).alias("_cnt"))
    # global window over ≤P census rows — bounded, not a data window
    w_off = (
        Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = sizes.select(
        "_pid", F.coalesce(F.sum("_cnt").over(w_off), F.lit(0)).alias("_off")
    )
    w = Window.partitionBy("_pid").orderBy(*sort_cols)
    out = (
        ranked.join(F.broadcast(offs), "_pid", "left")
        .withColumn(rank_col, F.row_number().over(w) + F.coalesce("_off", F.lit(0)))
        .drop("_pid", "_off")
    )
    return out, ranked.count()


def ntile_by_rank(rank_col: str, n_rows: int, tiles: int) -> "F.Column":
    """NTILE(tiles) of a precomputed global rank, as pure arithmetic:
    the first ``n_rows % tiles`` tiles hold ``n_rows//tiles + 1`` rows
    (SQL NTILE semantics), so tile = 1 + #cut-points below the rank."""
    base, rem = divmod(n_rows, tiles)
    tile = F.lit(1).cast("long")
    for q in range(1, tiles):
        cut = q * base + min(q, rem)
        tile = tile + (F.col(rank_col) > F.lit(cut)).cast("long")
    return tile
