"""Event-stream processors: watermarked tumbling windows and a custom
stateful operator (SURVEY.md §2.9 — the built-ins the reference's
hand-rolled protocol never needed, provided for stream-shaped data).

Every stream here runs through ``streaming.drain`` (or its rollup
form ``streaming.fold``) with Trigger.AvailableNow over a file source,
so the same code serves batch backfill and continuous operation; the
checkpoint carries watermark + operator state across restarts.

events.ts arrives as TIMESTAMP(NANOS) or timestamp[us] depending on
the data-generator generation; _read_events_stream probes the batch
schema once and adapts, same as sources/parquet.normalize_events_ts.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from fabric_claims_spark.extensions.dedup import md5_long
from fabric_claims_spark.localframe import local_frame
from fabric_claims_spark.operators.anomaly import modified_zscore_from_counts
from fabric_claims_spark.operators.funnel import windowed_funnel
from fabric_claims_spark.operators.rollup import (
    APPLIED_BATCH_COL,
    applied_watermark,
)
from fabric_claims_spark.sources.merge import TableStore
from fabric_claims_spark.streaming import drain, fold

EVENTS_LONG_TS_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", LongType()),  # raw nanos
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def _read_events_stream(spark: SparkSession, events_dir: str) -> DataFrame:
    # Streams need an explicit schema; probe the files once with a
    # batch read (driver-side footer inspection, no data scan) to learn
    # which ts encoding this data generation uses, then branch exactly
    # like the batch path (sources/parquet.normalize_events_ts).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    observed = spark.read.parquet(events_dir).schema
    ts_type = observed["ts"].dataType.simpleString()
    if ts_type == "bigint":  # legacy TIMESTAMP(NANOS) read as raw int64
        raw = spark.readStream.schema(EVENTS_LONG_TS_SCHEMA).parquet(events_dir)
        return raw.withColumn("event_ts", F.expr("timestamp_micros(ts div 1000)"))
    raw = spark.readStream.schema(observed).parquet(events_dir)
    return raw.withColumn("event_ts", F.col("ts").cast("timestamp"))


def hourly_counts_stream(
    spark: SparkSession,
    events_dir: str,
    checkpoint_dir: str,
    query_name: str = "hourly_counts",
    output_mode: str = "complete",
) -> DataFrame:
    """Watermarked tumbling-window aggregation (the streaming twin of
    the batch ``events_hourly_tumbling`` query): 1-hour windows with a
    2-hour watermark. Returns the final result as a DataFrame read
    from the in-memory sink.

    Output-mode semantics matter here and differ:

    * ``complete`` (default — matches the batch twin on a finite
      replay): every window is retained and re-emitted; the watermark
      does NOT evict state or drop late rows in complete mode, so
      across checkpointed AvailableNow runs late events still
      aggregate and state grows with distinct windows. Fine for
      bounded backfills; not a continuous-operation mode.
    * ``append``: only windows the watermark has finalized emit, late
      events beyond 2 hours are genuinely dropped, and state is
      evicted — the continuous-production mode. On a finite replay the
      trailing (still-open) windows are withheld, which is exactly the
      watermark contract.
    """
    stream = _read_events_stream(spark, events_dir)
    agg = (
        stream.withWatermark("event_ts", "2 hours")
        .groupBy(F.window("event_ts", "1 hour"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("event_count"),
            F.round(F.sum(F.col("value").cast("decimal(18,4)")), 4)
            .cast("double")
            .alias("value_sum"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "event_count",
            "value_sum",
        )
    )
    return drain(agg, checkpoint_dir, output_mode, query_name=query_name)


def hopping_counts_stream(
    spark: SparkSession,
    events_dir: str,
    checkpoint_dir: str,
    query_name: str = "hopping_counts",
    output_mode: str = "complete",
) -> DataFrame:
    """Hopping (sliding) window aggregation — the streaming twin of the
    batch ``events_hopping_windows`` query: 1-hour windows advancing
    every 15 minutes under a 2-hour watermark, so each event feeds 4
    overlapping windows. The ×4 expansion happens inside the stateful
    aggregation operator, not as a join — state holds one row per
    (open window, type), evicted by the watermark in append mode. The
    output-mode semantics are exactly those documented on
    ``hourly_counts_stream``.
    """
    stream = _read_events_stream(spark, events_dir)
    agg = (
        stream.withWatermark("event_ts", "2 hours")
        .groupBy(
            F.window("event_ts", "1 hour", "15 minutes"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("event_count"),
            F.round(F.sum(F.col("value").cast("decimal(18,4)")), 4)
            .cast("double")
            .alias("value_sum"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "event_count",
            "value_sum",
        )
    )
    return drain(agg, checkpoint_dir, output_mode, query_name=query_name)


_STATE_SCHEMA = "last_ts timestamp, n long, total double"
_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("events_seen", LongType()),
        StructField("value_total", DoubleType()),
        StructField("last_seen", TimestampType()),
    ]
)


def running_user_totals_stream(
    spark: SparkSession,
    events_dir: str,
    checkpoint_dir: str,
    query_name: str = "user_totals",
) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user
    running event count / value total, state carried in the checkpoint
    across micro-batches AND across restarts (the arbitrary-stateful
    path the built-in aggregations can't express — e.g. decaying
    counters, session machines)."""

    def update(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            last_ts, n, total = state.get
        else:
            last_ts, n, total = None, 0, 0.0
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
            mx = pdf["event_ts"].max()
            last_ts = mx if last_ts is None or mx > last_ts else last_ts
        state.update((last_ts, n, float(round(total, 4))))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "events_seen": [n],
                "value_total": [float(round(total, 4))],
                "last_seen": [last_ts],
            }
        )

    stream = _read_events_stream(spark, events_dir).select(
        "user_id", "event_ts", "value"
    )
    result = stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=_OUTPUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _merge_on_user(result, checkpoint_dir, query_name, _OUTPUT_SCHEMA)


def _merge_on_user(
    result: DataFrame, checkpoint_dir: str, query_name: str, schema: StructType
) -> DataFrame:
    """Drain a stateful operator's update rows into the TableStore
    table ``query_name`` at ``{checkpoint_dir}_table``, MERGEd on
    user_id; an empty ``schema`` frame for a zero-batch stream.

    A foreachBatch sink because the memory sink cannot recover from a
    checkpoint: latest-per-user lands distributed, idempotent under
    batch re-delivery, and nothing accumulates on the driver (a
    collect()-into-dict sink would be a scale-killer)."""
    spark = result.sparkSession
    store = TableStore(spark, f"{checkpoint_dir}_table")
    drain(
        result,
        checkpoint_dir,
        "update",
        sink=lambda batch_df, _: store.merge(
            query_name, batch_df, keys=["user_id"], update_only_changed=False
        ),
    )
    if not store.exists(query_name):  # zero-batch stream
        return local_frame(spark, [], schema)
    return store.read(query_name)


def deduped_events_stream(
    spark: SparkSession,
    events_dir: str,
    checkpoint_dir: str,
    query_name: str = "deduped_events",
    dedup_keys: tuple[str, ...] = ("event_id",),
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming exact dedup — the stream twin of the batch key-dedup
    operators (re-delivered files, at-least-once sources). Uses
    ``dropDuplicatesWithinWatermark``: one survivor per key among rows
    whose event times fall within the watermark horizon, with state
    EVICTED once the watermark passes a key — bounded state at 100 TB
    stream history, where plain ``dropDuplicates`` on a stream keeps
    every key forever and OOMs. Duplicates arriving later than the
    watermark horizon are the documented residual (route to a batch
    MERGE reconciliation, sources/merge.TableStore)."""
    stream = _read_events_stream(spark, events_dir).withWatermark(
        "event_ts", watermark
    )
    deduped = stream.dropDuplicatesWithinWatermark(list(dedup_keys)).select(
        "event_id", "user_id", "event_type", "value", "event_ts"
    )
    return drain(deduped, checkpoint_dir, query_name=query_name)


def views_with_recent_purchase_stream(
    spark: SparkSession,
    events_dir: str,
    checkpoint_dir: str,
    query_name: str = "views_with_purchase",
    lookback: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked stream-stream interval join: every view event
    paired with the same user's purchases in the preceding
    ``lookback`` window — the streaming form of the enrich-by-recent-
    activity join (batch twin: a plain range-condition join).

    Both sides carry event-time watermarks and the join condition
    bounds purchase_ts to [view_ts - lookback, view_ts], so Spark can
    EVICT join state older than watermark + lookback — bounded state
    on an unbounded stream, which is what separates this from a
    never-evicting stream-stream equi-join (state OOM at 100 TB of
    history). Inner join: matches emit as they form, no watermark
    finalization delay."""
    views = (
        _read_events_stream(spark, events_dir)
        .where(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id"),
            F.col("event_ts").alias("view_ts"),
        )
        .withWatermark("view_ts", watermark)
    )
    purchases = (
        _read_events_stream(spark, events_dir)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("event_ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    joined = views.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") <= F.col("view_ts"))
        & (F.col("purchase_ts") >= F.col("view_ts") - F.expr(f"INTERVAL {lookback}")),
    ).select("view_id", "user_id", "view_ts", "purchase_id", "purchase_ts", "purchase_value")
    return drain(joined, checkpoint_dir, query_name=query_name)


def rollup_maintenance_stream(
    spark: SparkSession,
    events_dir: str,
    checkpoint_dir: str,
    query_name: str = "stream_rollup",
) -> DataFrame:
    """Streaming incremental-gold: every micro-batch folds its partial
    aggregates into the stored rollup via
    operators/rollup.maintain_additive_rollup — the foreachBatch twin
    of the batch maintenance path, and the shape a production gold
    layer uses to stay current without re-scanning history. Because
    count/sum are monoids and min/max semilattices, micro-batch
    boundaries cannot change the result; and because foreachBatch is
    only at-least-once (a crash between sink and checkpoint commit
    redelivers the same batch_id on restart), the sink folds through
    the IDEMPOTENT maintenance variant, which records the last applied
    batch_id inside the state's own atomic commit and skips
    redeliveries — so AvailableNow restarts cannot double-count. The
    equivalence test pins stream == one-shot batch aggregate; the
    redelivery test pins the skip."""
    v = F.col("value").cast("decimal(18,4)")
    stream = _read_events_stream(spark, events_dir).select(
        "event_type", v.alias("v"), v.alias("v_min"), v.alias("v_max")
    )
    return fold(
        stream,
        checkpoint_dir,
        query_name,
        keys=["event_type"],
        sum_cols=["v"],
        min_cols=["v_min"],
        max_cols=["v_max"],
    )


def heavy_hitters_stream(
    spark: SparkSession,
    events_dir: str,
    checkpoint_dir: str,
    key_col: str = "event_type",
    k: int = 20,
    query_name: str = "stream_heavy_hitters",
) -> DataFrame:
    """Streaming Misra–Gries — the unbounded-key-domain frequent-items
    twin of extensions/sketches.heavy_hitters_2pass: each micro-batch's
    per-key counts fold into a stored k-counter summary under the
    mergeable-summaries rule [Agarwal et al., PODS 2012] (add counts,
    then subtract the (k+1)-th largest and drop non-positive), so
    state NEVER exceeds k rows no matter how many distinct keys the
    stream carries. Guarantee after any prefix: every key with true
    frequency > n/(k+1) is present, with a stored lower bound within
    n/(k+1) of its true count.

    foreachBatch is at-least-once, so the summary row set carries the
    applied batch_id and total-row count as columns in the SAME
    atomically-committed table (one pointer swap — no cross-table
    torn state); redelivered batch_ids are skipped exactly like
    rollup_maintenance_stream.

    Returns (key, lower_bound, total_rows) — candidates for an exact
    confirmation pass (the batch twin's pass 2).
    """
    store = TableStore(spark, f"{checkpoint_dir}_table")
    # CONTRACT: NULL keys are excluded from heavy-hitter counting —
    # the batch twin already does this implicitly (pandas value_counts
    # drops NaN and the pass-2 semi-join can't match a NULL key), and
    # the state table reserves the NULL-key row as its batch-id/total
    # sentinel. Filtering at entry makes the two unambiguous: a
    # NULL-key row in state IS the sentinel, never a counter.
    stream = (
        _read_events_stream(spark, events_dir)
        .select(key_col)
        .where(F.col(key_col).isNotNull())
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if store.exists(query_name):
            cur = store.read(query_name)
            head = cur.select(
                F.max("_applied_batch_id"), F.max("_total_rows")
            ).head()
            applied, prev_total = head[0], head[1] or 0
            if applied is not None and batch_id <= applied:
                return
            # the NULL-key sentinel row carries state only — never a
            # counter (see below)
            prev = cur.where(F.col(key_col).isNotNull()).select(
                key_col, "lower_bound"
            )
        else:
            prev, prev_total = None, 0

        counts = batch_df.groupBy(key_col).agg(
            F.count(F.lit(1)).alias("lower_bound")
        )
        # batch size from the counts aggregate — not a second full
        # scan of the micro-batch
        batch_rows = int(
            counts.agg(F.sum("lower_bound")).head()[0] or 0
        )
        merged = (
            prev.unionByName(counts) if prev is not None else counts
        ).groupBy(key_col).agg(F.sum("lower_bound").alias("lower_bound"))
        # cap to k counters: subtract the (k+1)-th largest (0 if none)
        top = merged.orderBy(
            F.col("lower_bound").desc(), F.col(key_col)
        ).limit(k + 1).collect()
        cut = top[k]["lower_bound"] if len(top) > k else 0
        summary = merged.select(
            key_col,
            (F.col("lower_bound") - F.lit(cut)).alias("lower_bound"),
        ).where(F.col("lower_bound") > 0)
        # the subtract step can legitimately empty the summary (>k
        # keys tied at the cut); the batch-id/total state must
        # survive that, so it rides a dedicated NULL-key sentinel
        # row rather than piggybacking on counter rows
        sentinel = local_frame(
            spark,
            [(None, 0)],
            StructType(
                [
                    StructField(
                        key_col, counts.schema[key_col].dataType, True
                    ),
                    StructField("lower_bound", LongType()),
                ]
            ),
        )
        state = (
            summary.unionByName(sentinel)
            .withColumn("_applied_batch_id", F.lit(batch_id).cast("long"))
            .withColumn(
                "_total_rows",
                F.lit(int(prev_total) + batch_rows).cast("long"),
            )
        )
        store.overwrite(query_name, state)

    drain(stream, checkpoint_dir, sink=sink)
    if not store.exists(query_name):
        raise ValueError("no batches processed")
    return (
        store.read(query_name)
        .where(F.col(key_col).isNotNull())  # drop the state sentinel
        .select(
            key_col,
            "lower_bound",
            F.col("_total_rows").alias("total_rows"),
        )
    )


def segment_value_stream(
    spark: SparkSession,
    events_dir: str,
    customer_path: str,
    checkpoint_dir: str,
    query_name: str = "segment_value",
) -> DataFrame:
    """Stream-static enrichment join — the remaining classic streaming
    shape: each micro-batch of purchase events joins a STATIC
    dimension (customer → market segment) and folds into a per-segment
    aggregate. Stream-static joins need no watermark and no stream
    state for the join itself (the static side is re-planned per
    micro-batch, so a dimension refresh is picked up between batches);
    only the downstream aggregate is stateful. The batch twin is the
    same join + groupBy over the full file — pinned equal by the
    stream==batch test.

    Scale notes (100 TB/day stream): the dimension side broadcasts
    under the session's auto-broadcast threshold, so each micro-batch
    pays a map-side hash join — no stream-side shuffle before the
    keyed aggregate.
    """
    cust = spark.read.parquet(customer_path).select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    stream = (
        _read_events_stream(spark, events_dir)
        .where(F.col("event_type") == "purchase")
        .select("user_id", F.col("value").cast("decimal(18,4)").alias("v"))
    )
    agg = (
        stream.join(cust, "user_id")  # stream-static inner join
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("purchases"),
            F.round(F.sum("v"), 4).cast("double").alias("value_sum"),
        )
    )
    return drain(agg, checkpoint_dir, "complete", query_name=query_name)


def changepoint_monitor_stream(
    spark: SparkSession,
    events_dir: str,
    checkpoint_dir: str,
    query_name: str = "stream_cusum",
) -> DataFrame:
    """Streaming CUSUM changepoint monitor — the incremental twin of
    queries/behavior.events_cusum_changepoint. The sufficient state is
    just the per-day count vector (calendar-bounded, so state size is
    days-seen, independent of event volume): each micro-batch's day
    counts fold additively into the stored rollup, and the CUSUM
    curve is recomputed from that tiny frame on read with the exact
    integer scaling of the batch query (D·CUSUM_k = D·Σc − k·T).

    foreachBatch is at-least-once, so the applied batch_id rides in
    the SAME atomically-swapped state table and redelivered batches
    are skipped (the rollup_maintenance_stream rule) — an AvailableNow
    restart cannot change the result.
    """
    stream = _read_events_stream(spark, events_dir).select(
        F.col("ts").cast("date").alias("day")
    )
    d = fold(
        stream, checkpoint_dir, query_name, keys=["day"], count_col="cnt"
    ).select("day", "cnt")
    t = d.agg(F.count(F.lit(1)).alias("dd"), F.sum("cnt").alias("tot"))
    wc = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    c = d.select(
        "day",
        "cnt",
        F.sum("cnt").over(wc).alias("cum"),
        F.row_number().over(Window.orderBy("day")).alias("rn"),
    )
    cus = (F.col("dd") * F.col("cum") - F.col("rn") * F.col("tot")).cast(
        "bigint"
    )
    withc = c.crossJoin(F.broadcast(t)).select(
        "day", "cnt", cus.alias("cusum_scaled")
    )
    mx = F.max(F.abs(F.col("cusum_scaled"))).over(Window.partitionBy())
    return withc.select(
        "day",
        "cnt",
        "cusum_scaled",
        F.when(F.abs(F.col("cusum_scaled")) == mx, 1)
        .otherwise(0)
        .cast("bigint")
        .alias("is_changepoint"),
    ).orderBy("day")


def hll_users_stream(
    spark: SparkSession,
    events_dir: str,
    checkpoint_dir: str,
    query_name: str = "stream_hll",
) -> DataFrame:
    """Streaming HyperLogLog — the sketch whose state is BUILT for
    streams: per (event_type, register) the max rank folds with MAX,
    which is idempotent and commutative, so the state is ≤ 256 rows
    per type forever and even naturally tolerant of re-delivery (the
    batch-id skip is kept anyway for uniformity with the other
    foreachBatch sinks). The estimate is recomputed from registers on
    read with the same exact shifted-integer harmonic sum as the
    batch query — stream and batch agree bit-for-bit.
    """
    h = _read_events_stream(spark, events_dir).select(
        "event_type",
        md5_long(F.col("user_id").cast("string")).alias("hv"),
    )
    # one (event_type, register, rank) row per event; the fold keeps
    # the max rank per register
    regs = h.select(
        "event_type",
        (F.col("hv") % 256).alias("j"),
        F.when(
            F.expr("hv div 256") > 0,
            F.lit(53) - F.length(F.bin(F.expr("hv div 256"))),
        )
        .otherwise(F.lit(53))
        .alias("mj"),
    )
    m = fold(
        regs, checkpoint_dir, query_name,
        keys=["event_type", "j"], max_cols=["mj"],
    ).select("event_type", "j", "mj")
    agg = m.groupBy("event_type").agg(
        F.sum(F.expr("shiftleft(cast(1 as bigint), cast(53 - mj as int))"))
        .alias("s_obs"),
        F.count(F.lit(1)).alias("nreg"),
    )
    num = 0.7213 / (1 + 1.079 / 256) * 65536 * 9007199254740992.0
    raw = F.lit(num) / (
        F.col("s_obs")
        + (256 - F.col("nreg")) * F.lit(9007199254740992).cast("long")
    )
    zeros = 256 - F.col("nreg")
    return agg.select(
        "event_type",
        F.round(
            F.when(
                (raw <= 640) & (zeros > 0),
                256 * F.log(256.0 / zeros),
            ).otherwise(raw),
            4,
        ).alias("hll_estimate"),
    ).orderBy("event_type")


def user_value_machine_stream(
    spark: SparkSession,
    events_dir: str,
    checkpoint_dir: str,
    query_name: str = "user_value_machine",
    recent_k: int = 3,
) -> DataFrame:
    """Per-user value machine on ``transformWithStateInPandas`` —
    the Spark 4 arbitrary-state API (SPARK-46815) that supersedes
    applyInPandasWithState with TYPED state variables on the RocksDB
    store: a ValueState for the running (count, total) and a
    ListState ring of the last ``recent_k`` values feeding a trailing
    mean. Two independently-evolvable state variables per key is the
    capability the old single-struct API could not express without
    packing everything into one tuple (running_user_totals_stream
    above is the old-API twin for comparison).

    Emits per user: events_seen, value_total (exact at 2dp — cents
    carried as integers in state), recent_mean (trailing-``recent_k``
    mean, one IEEE division at emit). Results land through the same
    idempotent TableStore MERGE sink as the old-API twin; AvailableNow
    restarts replay into the same totals (state lives in the RocksDB
    checkpoint, the sink merges on user_id)."""
    try:
        # TWS ships its driver-worker protocol over protobuf; without
        # it the streaming query dies with an opaque
        # STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE mid-run.
        # Fail fast with the actionable dependency instead.
        import google.protobuf  # noqa: F401
    except ImportError as exc:  # pragma: no cover - env-dependent
        raise ImportError(
            "transformWithStateInPandas requires the 'protobuf' package "
            "(pyspark[connect] extra); install it or use the "
            "applyInPandasWithState twin running_user_totals_stream"
        ) from exc
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("events_seen", LongType()),
            StructField("value_total", DoubleType()),
            StructField("recent_mean", DoubleType()),
        ]
    )

    class UserValueMachine(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self.totals = handle.getValueState(
                "totals", "n BIGINT, cents BIGINT"
            )
            self.recent = handle.getListState("recent", "cents BIGINT")

        def handleInputRows(self, key, rows, timerValues):
            n, cents = (
                self.totals.get() if self.totals.exists() else (0, 0)
            )
            # one key's rows can arrive as SEVERAL Arrow chunks in
            # arbitrary order — concatenate first, sort ONCE, so the
            # trailing-k ring reflects event_id order across chunks
            # (per-chunk sorting would take the tail of whichever
            # chunk happened to arrive last)
            chunks = list(rows)
            if chunks:
                pdf = pd.concat(chunks, ignore_index=True).sort_values(
                    "event_id"
                )
                n += len(pdf)
                # 2dp money as integer cents: state stays exact under
                # any batch split; the only float math is at emit.
                batch_cents = [
                    int(round(v * 100)) for v in pdf["value"].tolist()
                ]
                cents += sum(batch_cents)
                tail = [(c,) for c in batch_cents]
            else:
                tail = []
            self.totals.update((n, cents))
            prior = list(self.recent.get()) if self.recent.exists() else []
            window = (prior + tail)[-recent_k:]
            self.recent.put(window)
            recent_mean = (
                sum(c for (c,) in window) / 100.0 / len(window)
                if window
                else None
            )
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "events_seen": [n],
                    "value_total": [cents / 100.0],
                    "recent_mean": [recent_mean],
                }
            )

        def close(self) -> None:
            pass

    prev_provider = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stream = _read_events_stream(spark, events_dir).select(
            "event_id", "user_id", "value"
        )
        result = stream.groupBy("user_id").transformWithStateInPandas(
            statefulProcessor=UserValueMachine(),
            outputStructType=out_schema,
            outputMode="Update",
            timeMode="None",
        )
        return _merge_on_user(result, checkpoint_dir, query_name, out_schema)
    finally:
        if prev_provider is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev_provider
            )


def join_view_stream(
    spark: SparkSession,
    events_dir: str,
    checkpoint_dir: str,
    query_name: str = "purchase_signup_view",
) -> DataFrame:
    """Incremental JOIN-view maintenance (classic IVM over append-only
    relations): the maintained view is

        V  =  purchases ⋈ signups   (on user_id)

    and each micro-batch applies the delta-join identity

        ΔV = ΔL ⋈ R_old  ∪  L_old ⋈ ΔR  ∪  ΔL ⋈ ΔR

    so the view stays exact without ever re-joining the full history —
    the per-batch work is proportional to the DELTA times the matched
    slice, not |L| x |R|. Both relations are append-only (raw events),
    so no retraction handling is needed; an aggregated/updating right
    side would require the full IVM algebra (out of scope, documented).

    State discipline: L-accumulator, R-accumulator, and the view live
    in ONE TableStore table discriminated by a `side` column
    ('L'/'R'/'V') with the applied-batch-id riding every row — a
    single atomic pointer swap per batch, so there is NO cross-table
    torn-state window, and redelivered batch_ids (foreachBatch's
    at-least-once contract) are skipped exactly like
    rollup_maintenance_stream. Returns the view rows.

    Scale notes (100 TB/day): each delta join shuffles only the
    micro-batch (small side broadcastable); the accumulators are the
    only growing state and would live partitioned-by-key in
    production so the delta joins stay co-located; the equivalence
    and torn-batch tests pin stream == one-shot batch join.
    """
    store = TableStore(spark, f"{checkpoint_dir}_table")
    stream = _read_events_stream(spark, events_dir).select(
        "event_id",
        "user_id",
        "event_type",
        F.col("event_ts").alias("ts"),  # normalized by the reader
        "value",
    )

    empty_state = (
        "side string, user_id long, p_event_id long, s_event_id long,"
        " p_ts timestamp, s_ts timestamp, value double"
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if store.exists(query_name):
            applied = applied_watermark(store, query_name)
            if applied is not None and batch_id <= applied:
                return
            cur = store.read(query_name).drop(APPLIED_BATCH_COL)
        else:
            cur = local_frame(spark, [], empty_state)

        d_l = batch_df.where(F.col("event_type") == "purchase").select(
            "user_id",
            F.col("event_id").alias("p_event_id"),
            F.col("ts").alias("p_ts"),
            "value",
        )
        d_r = batch_df.where(F.col("event_type") == "signup").select(
            "user_id",
            F.col("event_id").alias("s_event_id"),
            F.col("ts").alias("s_ts"),
        )
        l_old = cur.where(F.col("side") == "L").select(
            "user_id", "p_event_id", "p_ts", "value"
        )
        r_old = cur.where(F.col("side") == "R").select(
            "user_id", "s_event_id", "s_ts"
        )
        # ΔV: three delta joins — new-left x old-right, old-left x
        # new-right, new x new (each pair of rows meets in EXACTLY one
        # of the three terms, so the union is exact, never duplicated)
        d_v = (
            d_l.join(r_old, "user_id")
            .unionByName(l_old.join(d_r, "user_id"))
            .unionByName(d_l.join(d_r, "user_id"))
            .select("user_id", "p_event_id", "s_event_id", "p_ts", "s_ts", "value")
        )

        def tag(df: DataFrame, side: str) -> DataFrame:
            out = df.withColumn("side", F.lit(side))
            for col, typ in (
                ("p_event_id", "long"), ("s_event_id", "long"),
                ("p_ts", "timestamp"), ("s_ts", "timestamp"),
                ("value", "double"),
            ):
                if col not in df.columns:
                    out = out.withColumn(col, F.lit(None).cast(typ))
            return out.select(
                "side", "user_id", "p_event_id", "s_event_id",
                "p_ts", "s_ts", "value",
            )

        state = (
            cur.unionByName(tag(d_l, "L"))
            .unionByName(tag(d_r, "R"))
            .unionByName(tag(d_v, "V"))
            .withColumn(APPLIED_BATCH_COL, F.lit(batch_id).cast("long"))
        )
        store.overwrite(query_name, state)

    drain(stream, checkpoint_dir, sink=sink)
    if not store.exists(query_name):
        raise ValueError("no batches processed")
    return (
        store.read(query_name)
        .where(F.col("side") == "V")
        .select("user_id", "p_event_id", "s_event_id", "p_ts", "s_ts", "value")
    )


def cms_maintenance_stream(
    spark: SparkSession,
    events_dir: str,
    checkpoint_dir: str,
    key_col: str = "user_id",
    query_name: str = "stream_cms",
) -> DataFrame:
    """Streaming Count-Min Sketch — the mergeable-summary property in
    action: CMS cells are pure counters, so maintaining the sketch
    over a stream IS the additive-rollup fold (one state row per
    (hash_row, bucket), d x w = 256 rows total no matter how much
    data streams through), with the same applied-batch-id redelivery
    guard as every foreachBatch sink here. The batch twin is
    queries/stats.events_cms_user_counts; equivalence is pinned by
    the stream==batch test probing estimates off the streamed cells.

    Returns the cell table (i, bucket, n).
    """
    from fabric_claims_spark.queries.stats import _CMS_D, _CMS_W

    seeds = F.array(*[F.lit(i) for i in range(_CMS_D)])
    stream = (
        _read_events_stream(spark, events_dir)
        .select(F.col(key_col).alias("key"))
        .withColumn("i", F.explode(seeds))
        .select(
            "i",
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.col("i").cast("string"),
                                F.lit(":"),
                                F.col("key").cast("string"),
                            )
                        ),
                        1,
                        15,
                    ),
                    16,
                    10,
                ).cast("long")
                % _CMS_W
            ).alias("bucket"),
        )
    )
    return fold(stream, checkpoint_dir, query_name, keys=["i", "bucket"])


def psi_monitor_stream(
    spark: SparkSession,
    events_dir: str,
    baseline_path: str,
    checkpoint_dir: str,
    bin_width: float = 50.0,
    n_bins: int = 10,
    query_name: str = "psi_monitor",
) -> DataFrame:
    """Streaming drift monitor — the PSI query
    (queries/stats.orders_value_psi_periods) as a continuously
    maintained alarm: the live side's fixed-grid bin counts fold per
    micro-batch through the idempotent additive rollup (n_bins rows
    of state, the CMS discipline), and each read compares them to a
    FROZEN baseline distribution with the same add-one-smoothed
    PSI = Σ (p−q)·ln(p/q), 6dp-snapped logs, nano-unit exact term
    sums. Emits one row per bin plus the total and the standard
    stable / moderate_shift / shifted verdict — the feed a
    model-serving pipeline pages on.

    ``baseline_path``: parquet of reference events (the distribution
    the model was trained/validated against); frozen by definition —
    drift is measured AGAINST it, so it is read, binned once per
    call, and never folded.
    """
    # Binning must be total over real inputs, or the monitor lies:
    # least() skips NULLs (least(9, NULL) = 9 — NULL mass silently
    # lands in the TOP bin) and negative values floor to negative bin
    # ids that drop out of the 0..n_bins-1 spine join. NULLs are
    # filtered (a drift monitor measures the value distribution;
    # missingness is a different alarm), negatives clamp into bin 0
    # with greatest() — in BOTH the live and baseline binning, since
    # an asymmetric fix would register the fix itself as drift.
    def bin_col(c):
        return F.least(
            F.lit(n_bins - 1),
            F.greatest(
                F.lit(0),
                F.floor(c / F.lit(bin_width)).cast("int"),
            ),
        )

    stream = (
        _read_events_stream(spark, events_dir)
        .where(F.col("value").isNotNull())
        .select(bin_col(F.col("value")).alias("bin"))
    )
    live = fold(stream, checkpoint_dir, query_name, keys=["bin"]).select(
        "bin", F.col("n").alias("cb")
    )
    base = (
        spark.read.parquet(baseline_path)
        .where(F.col("value").isNotNull())
        .select(bin_col(F.col("value")).alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("ca"))
    )
    bins = spark.range(n_bins).select(F.col("id").cast("int").alias("bin"))
    h = (
        bins.join(base, "bin", "left")
        .join(live, "bin", "left")
        .select(
            "bin",
            F.coalesce("ca", F.lit(0)).alias("ca"),
            F.coalesce("cb", F.lit(0)).alias("cb"),
        )
    )
    t = h.agg(F.sum("ca").alias("na"), F.sum("cb").alias("nb"))
    p = (F.col("ca") + 1).cast("double") / (F.col("na") + n_bins)
    q = (F.col("cb") + 1).cast("double") / (F.col("nb") + n_bins)
    term_nano = F.round(
        (p - q) * F.round(F.log(p / q), 6) * F.lit(1_000_000_000), 0
    ).cast("long")
    terms = h.crossJoin(F.broadcast(t)).select(
        "bin", "ca", "cb", term_nano.alias("term_nano")
    )
    psi = terms.agg(F.sum("term_nano").alias("nano"))
    return (
        terms.crossJoin(F.broadcast(psi))
        .select(
            F.col("bin").cast("long").alias("bin"),
            F.col("ca").cast("long").alias("baseline_count"),
            F.col("cb").cast("long").alias("live_count"),
            "term_nano",
            (F.col("nano").cast("double") / 1_000_000_000.0).alias(
                "psi_total"
            ),
            F.when(F.col("nano") < 100_000_000, "stable")
            .when(F.col("nano") < 250_000_000, "moderate_shift")
            .otherwise("shifted")
            .alias("verdict"),
        )
        .orderBy("bin")
    )


def zscore_monitor_stream(
    spark: SparkSession,
    events_dir: str,
    checkpoint_dir: str,
    query_name: str = "zscore_monitor",
) -> DataFrame:
    """Streaming robust-anomaly monitor — the grouped modified
    z-score (queries/behavior.events_daily_modified_zscore) as a
    continuously maintained alarm. Per micro-batch, the live
    (event_type, day) counts fold through the idempotent additive
    rollup (state = one row per group x day, never event-sized;
    at-least-once redelivery is a no-op); each read feeds the folded
    counts to the SAME scoring core the batch query uses
    (operators/anomaly.modified_zscore_from_counts — shared verbatim,
    so stream==batch is structural, not coincidental). Exact grouped
    medians/MADs; a day's verdict can change as late data arrives,
    which is the correct monitor semantics (median/MAD are not
    incrementally summarizable — the rollup folds COUNTS, and the
    robust statistics recompute over the bounded count table at read
    time).

    NULL timestamps are filtered at entry (same policy as every
    events stream here — a bucket monitor measures the time
    distribution; missingness is a different alarm).
    """
    stream = (
        _read_events_stream(spark, events_dir)
        .where(F.col("ts").isNotNull())
        .select(
            "event_type",
            F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
        )
    )
    d = fold(
        stream, checkpoint_dir, query_name, keys=["event_type", "day"]
    ).select("event_type", "day", F.col("n").alias("cnt"))
    return modified_zscore_from_counts(d)


FUNNEL_STEPS = ["signup", "view", "click", "purchase"]
FUNNEL_WINDOW_H = 24


def funnel_monitor_stream(
    spark: SparkSession,
    events_dir: str,
    checkpoint_dir: str,
    query_name: str = "funnel_monitor",
    steps: list[str] | None = None,
    window_h: int = FUNNEL_WINDOW_H,
) -> DataFrame:
    """Streaming windowed-conversion funnel — the per-step conversion
    window (queries/behavior.events_funnel_windowed) continuously
    maintained. Per micro-batch, the DEDUPED funnel-event rows
    (user_id, event_type, ts — only funnel step types, NULL ts
    dropped) fold through the idempotent additive rollup
    (at-least-once redelivery is a no-op); each read feeds the folded
    key set to the SAME chained min-aggregate core the batch query
    uses (operators/funnel.windowed_funnel — shared verbatim, so
    stream==batch is structural).

    Why the state is the deduped event set and not per-step anchors:
    a LATE step-1 event can LOWER a user's anchor, which re-opens or
    closes every downstream window — first-match funnels are not
    incrementally summarizable beyond the event set itself (the same
    reason the z-score twin folds counts and recomputes medians at
    read time). The rollup is bounded by DISTINCT (user, step-type,
    ts) rows — the funnel-relevant slice of the corpus, with
    duplicate deliveries collapsing into the count column the funnel
    never reads. The read-time funnel costs rollup-sized work; the
    EVENTS SCAN is strictly incremental.
    """
    steps = steps or FUNNEL_STEPS
    stream = (
        _read_events_stream(spark, events_dir)
        .where(F.col("ts").isNotNull() & F.col("event_type").isin(steps))
        .select("user_id", "event_type", "ts")
    )
    e = fold(
        stream, checkpoint_dir, query_name,
        keys=["user_id", "event_type", "ts"],
    ).select("user_id", "event_type", "ts")
    return windowed_funnel(e, steps, window_h)
