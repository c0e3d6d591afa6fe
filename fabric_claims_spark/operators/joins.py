"""Join helpers with explicit scale strategies (SURVEY.md §2.3, §4).

Catalyst/AQE picks physical joins; these helpers encode decisions it
can't make for us, e.g. salting a known-skewed key so one hot key's
rows spread over ``salt_buckets`` reducers instead of one. AQE's
skew-join splitting handles *shuffle* skew adaptively; salting is for
the aggregate case (groupBy on a hot key) where AQE can't re-split a
single group.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def salted_groupby_count(
    df: DataFrame, keys: list[str], salt_buckets: int = 32
) -> DataFrame:
    """Two-phase aggregate for skewed keys: partial count on
    (key, salt) — spreads the hot key across reducers — then final
    combine on key. Semantically identical to df.groupBy(keys).count().
    """
    salted = df.withColumn(
        "_salt", (F.rand(seed=0) * salt_buckets).cast("int")
    )
    partial = salted.groupBy(*keys, "_salt").agg(F.count(F.lit(1)).alias("_n"))
    return partial.groupBy(*keys).agg(F.sum("_n").cast("long").alias("count"))


def asof_join_backward(
    left: DataFrame,
    right: DataFrame,
    key: str,
    ts: str,
    right_value_cols: list[str],
) -> DataFrame:
    """As-of (backward) join: for each left row, the latest right row
    with ``right.ts <= left.ts`` on the same key — the operator Spark
    lacks natively (DuckDB/kdb ASOF JOIN, pandas merge_asof).

    Implementation is the scalable union trick, not a range join: tag
    both sides, union, and carry right values forward with
    last(ignorenulls) over (key ORDER BY ts, side) — one shuffle on
    key, O(n log n) per partition, no quadratic range explosion, and
    no Python in the row path (beats the applyInPandas/merge_asof
    fallback by staying in Tungsten).

    All right value columns are carried as ONE struct: a struct row is
    non-null whenever a right row exists, so every ``asof_*`` output
    column comes from the SAME matched right row even when some of its
    value columns are NULL — carrying columns independently would skip
    a NULL cell and leak an older row's value (DuckDB ASOF JOIN /
    pandas merge_asof take the whole matched row, NULLs included).
    """
    lcols = left.columns
    rv_struct_type = (
        "struct<"
        + ",".join(
            f"{c}:{right.schema[c].dataType.simpleString()}"
            for c in right_value_cols
        )
        + ">"
    )
    l_tag = left.select(
        F.col(key).alias("_k"),
        F.col(ts).alias("_ts"),
        F.lit(1).alias("_side"),
        F.struct(*lcols).alias("_left"),
        F.lit(None).cast(rv_struct_type).alias("_rv"),
    )
    r_tag = right.select(
        F.col(key).alias("_k"),
        F.col(ts).alias("_ts"),
        F.lit(0).alias("_side"),
        F.lit(None).cast(
            "struct<" + ",".join(f"{c}:{left.schema[c].dataType.simpleString()}" for c in lcols) + ">"
        ).alias("_left"),
        F.struct(*[F.col(c) for c in right_value_cols]).alias("_rv"),
    )
    unioned = l_tag.unionByName(r_tag)
    # right rows sort before left rows at equal ts → '<=' semantics
    w = (
        Window.partitionBy("_k")
        .orderBy(F.col("_ts").asc(), F.col("_side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.select(
        "_side",
        "_left",
        F.last("_rv", ignorenulls=True).over(w).alias("_rv"),
    )
    return carried.where(F.col("_side") == 1).select(
        *[F.col(f"_left.{c}").alias(c) for c in lcols],
        *[F.col(f"_rv.{c}").alias(f"asof_{c}") for c in right_value_cols],
    )


def asof_join_forward(
    left: DataFrame,
    right: DataFrame,
    key: str,
    ts: str,
    right_value_cols: list[str],
) -> DataFrame:
    """As-of (forward) join: for each left row, the EARLIEST right row
    with ``right.ts >= left.ts`` on the same key — the mirror of
    ``asof_join_backward`` (pandas merge_asof direction='forward');
    the shape behind "next event at-or-after" features (next
    maintenance slot, next price revision, time-to-next-purchase).

    Same scalable union trick, walked from the future backwards:
    order the unioned stream by ts DESCENDING (right rows first at
    equal ts, so '>=' includes the tie) and carry the right struct
    with last(ignorenulls) — one shuffle on key, no range explosion,
    no Python. Ties between multiple right rows at the SAME (key, ts)
    are the caller's contract (pre-dedupe the right side to one row
    per (key, ts) for full determinism, as the registry query does).
    """
    lcols = left.columns
    rv_struct_type = (
        "struct<"
        + ",".join(
            f"{c}:{right.schema[c].dataType.simpleString()}"
            for c in right_value_cols
        )
        + ">"
    )
    l_tag = left.select(
        F.col(key).alias("_k"),
        F.col(ts).alias("_ts"),
        F.lit(1).alias("_side"),
        F.struct(*lcols).alias("_left"),
        F.lit(None).cast(rv_struct_type).alias("_rv"),
    )
    r_tag = right.select(
        F.col(key).alias("_k"),
        F.col(ts).alias("_ts"),
        F.lit(0).alias("_side"),
        F.lit(None).cast(
            "struct<" + ",".join(f"{c}:{left.schema[c].dataType.simpleString()}" for c in lcols) + ">"
        ).alias("_left"),
        F.struct(*[F.col(c) for c in right_value_cols]).alias("_rv"),
    )
    unioned = l_tag.unionByName(r_tag)
    # descending ts; right rows sort first at equal ts -> '>=' includes
    # the tie (the mirror of the backward variant's ascending walk)
    w = (
        Window.partitionBy("_k")
        .orderBy(F.col("_ts").desc(), F.col("_side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.select(
        "_side",
        "_left",
        F.last("_rv", ignorenulls=True).over(w).alias("_rv"),
    )
    return carried.where(F.col("_side") == 1).select(
        *[F.col(f"_left.{c}").alias(c) for c in lcols],
        *[F.col(f"_rv.{c}").alias(f"asof_{c}") for c in right_value_cols],
    )


def range_join_bucketed(
    left: DataFrame,
    right: DataFrame,
    left_val: str,
    right_lo: str,
    right_hi: str,
    bucket_width: float,
) -> DataFrame:
    """Interval join (left.val BETWEEN right.lo AND right.hi) without
    the O(n×m) broadcast-nested-loop Spark would otherwise plan:
    bucketize the value domain, explode each right interval over the
    buckets it covers, equi-join on bucket, then re-check the exact
    predicate. Shuffle cost ~ rows × intervals-per-bucket instead of
    the full cross product. Pick ``bucket_width`` near the median
    interval length.
    """
    lb = left.withColumn("_b", F.floor(F.col(left_val) / bucket_width).cast("long"))
    rb = right.withColumn(
        "_b",
        F.explode(
            F.sequence(
                F.floor(F.col(right_lo) / bucket_width).cast("long"),
                F.floor(F.col(right_hi) / bucket_width).cast("long"),
            )
        ),
    )
    return (
        lb.join(rb, "_b")
        .where(F.col(left_val).between(F.col(right_lo), F.col(right_hi)))
        .drop("_b")
    )


def salted_join_skewed_left(
    left: DataFrame,
    right: DataFrame,
    key: str,
    salt_buckets: int = 16,
) -> DataFrame:
    """Skew-salted inner equi-join: the skewed left side gets a random
    salt, the (smaller) right side is exploded ×salt_buckets so every
    salted left row still finds its match. Use when one key dominates
    and the right side is small enough to replicate but too big to
    broadcast outright.
    """
    salted_left = left.withColumn(
        "_salt", (F.rand(seed=0) * salt_buckets).cast("int")
    )
    exploded_right = right.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)))
    )
    return salted_left.join(exploded_right, [key, "_salt"], "inner").drop("_salt")
