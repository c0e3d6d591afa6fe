"""Watermarked window aggregation + applyInPandasWithState custom
stateful operator: results match batch, state survives restarts."""

import shutil

import pytest
from pyspark.sql import functions as F

from fabric_claims_spark.queries import load_all_queries
from fabric_claims_spark.streaming.events_stream import (
    hourly_counts_stream,
    running_user_totals_stream,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def events_dir(tmp_path):
    """Stream source dir seeded with the sf0.001 events file."""
    d = tmp_path / "events_stream"
    d.mkdir()
    shutil.copy(f"{SF}/events.parquet", d / "batch1.parquet")
    return d


def test_hourly_window_matches_batch(spark, events_dir, tmp_path):
    got = hourly_counts_stream(
        spark, str(events_dir), str(tmp_path / "ckpt"), query_name="t_hourly"
    )
    batch = load_all_queries()["events_hourly_tumbling"].fn(spark, SF)
    g = {
        (r["window_start"], r["event_type"]): (r["event_count"], r["value_sum"])
        for r in got.collect()
    }
    b = {
        (r["window_start"], r["event_type"]): (r["event_count"], r["value_sum"])
        for r in batch.collect()
    }
    assert g == b


def test_stateful_user_totals_across_restarts(spark, events_dir, tmp_path):
    ckpt = str(tmp_path / "ckpt_state")
    got1 = running_user_totals_stream(
        spark, str(events_dir), ckpt, query_name="t_totals1"
    ).collect()
    events = spark.read.parquet(str(events_dir))
    want = {
        r["user_id"]: (r["n"], round(r["tot"], 4))
        for r in events.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("tot"))
        .collect()
    }
    g1 = {r["user_id"]: (r["events_seen"], round(r["value_total"], 4)) for r in got1}
    assert set(g1) == set(want)
    for u in want:
        assert g1[u][0] == want[u][0]
        assert abs(g1[u][1] - want[u][1]) < 0.01

    # restart with a second file: state resumes from the checkpoint —
    # counts ACCUMULATE over batch1 + batch2 rather than starting over
    shutil.copy(f"{SF}/events.parquet", events_dir / "batch2.parquet")
    got2 = running_user_totals_stream(
        spark, str(events_dir), ckpt, query_name="t_totals2"
    ).collect()
    g2 = {r["user_id"]: r["events_seen"] for r in got2}
    for u in g2:
        assert g2[u] == 2 * want[u][0]


def test_stream_dedup_matches_batch_distinct(spark, events_dir, tmp_path):
    """A re-delivered source file (at-least-once delivery) must come
    out exactly once per event_id, matching batch DISTINCT-by-key."""
    from fabric_claims_spark.streaming.events_stream import (
        deduped_events_stream,
    )

    shutil.copy(f"{SF}/events.parquet", events_dir / "redelivery.parquet")
    got = deduped_events_stream(
        spark, str(events_dir), str(tmp_path / "ckpt_dedup"), query_name="t_dedup"
    )
    n_distinct = (
        spark.read.parquet(str(events_dir)).select("event_id").distinct().count()
    )
    assert got.count() == n_distinct
    assert got.groupBy("event_id").count().where(F.col("count") > 1).count() == 0


def test_stream_stream_interval_join_matches_batch(spark, events_dir, tmp_path):
    """The watermarked view×purchase interval join must emit exactly
    the pairs the equivalent batch range join produces on the same
    bounded input."""
    from fabric_claims_spark.streaming.events_stream import (
        views_with_recent_purchase_stream,
    )

    got = views_with_recent_purchase_stream(
        spark, str(events_dir), str(tmp_path / "ckpt_ssj"), query_name="t_ssj"
    )
    from fabric_claims_spark.sources.parquet import normalize_events_ts

    e = normalize_events_ts(spark.read.parquet(str(events_dir))).withColumn(
        "event_ts", F.col("ts")
    )
    v = e.where(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"), "user_id",
        F.col("event_ts").alias("view_ts"),
    )
    p = e.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("event_ts").alias("purchase_ts"),
    )
    want = (
        v.join(
            p,
            (F.col("user_id") == F.col("p_user_id"))
            & (F.col("purchase_ts") <= F.col("view_ts"))
            & (F.col("purchase_ts") >= F.col("view_ts") - F.expr("INTERVAL 1 hour")),
        )
        .select("view_id", "purchase_id")
    )
    g = {(r["view_id"], r["purchase_id"]) for r in got.collect()}
    w = {(r["view_id"], r["purchase_id"]) for r in want.collect()}
    assert g == w and len(g) > 0


def test_streaming_rollup_matches_batch_aggregate(spark, events_dir, tmp_path):
    """foreachBatch incremental-gold: the maintained rollup after the
    stream drains must equal the one-shot batch aggregate (monoid /
    semilattice measures are micro-batch-boundary invariant)."""
    from fabric_claims_spark.streaming.events_stream import (
        rollup_maintenance_stream,
    )

    got = rollup_maintenance_stream(
        spark, str(events_dir), str(tmp_path / "ckpt_rollup"), "t_rollup"
    )
    e = spark.read.parquet(str(events_dir))
    want = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("value").cast("decimal(18,4)")).alias("v"),
        F.min(F.col("value").cast("decimal(18,4)")).alias("v_min"),
        F.max(F.col("value").cast("decimal(18,4)")).alias("v_max"),
    )
    g = {r["event_type"]: (r["n"], r["v"], r["v_min"], r["v_max"]) for r in got.collect()}
    w = {r["event_type"]: (r["n"], r["v"], r["v_min"], r["v_max"]) for r in want.collect()}
    assert g == w and len(g) > 0


def test_hopping_window_matches_batch(spark, events_dir, tmp_path):
    from fabric_claims_spark.streaming.events_stream import (
        hopping_counts_stream,
    )

    got = hopping_counts_stream(
        spark, str(events_dir), str(tmp_path / "ckpt_hop"), query_name="t_hop"
    )
    batch = load_all_queries()["events_hopping_windows"].fn(spark, SF)
    g = {
        (r["window_start"], r["event_type"]): (r["event_count"], r["value_sum"])
        for r in got.collect()
    }
    b = {
        (r["window_start"], r["event_type"]): (r["event_count"], r["value_sum"])
        for r in batch.collect()
    }
    assert g == b
    # every event lands in exactly 4 overlapping windows
    n_events = spark.read.parquet(str(events_dir)).count()
    assert sum(c for c, _ in g.values()) == 4 * n_events


def test_heavy_hitters_stream_summary_guarantees(spark, events_dir, tmp_path):
    from fabric_claims_spark.streaming.events_stream import (
        heavy_hitters_stream,
    )

    k = 10
    got = heavy_hitters_stream(
        spark,
        str(events_dir),
        str(tmp_path / "ckpt_hh"),
        key_col="event_type",
        k=k,
        query_name="t_hh",
    ).collect()
    assert 0 < len(got) <= k  # state bounded by k counters
    total = got[0]["total_rows"]
    events = spark.read.parquet(str(events_dir))
    assert total == events.count()
    exact = {
        r["event_type"]: r["count"]
        for r in events.groupBy("event_type").count().collect()
    }
    stream_lb = {r["event_type"]: r["lower_bound"] for r in got}
    for key, cnt in exact.items():
        # recall: every key above the n/(k+1) error bound must survive
        if cnt > total / (k + 1):
            assert key in stream_lb, key
        # lower-bound property within the MG error
        if key in stream_lb:
            assert stream_lb[key] <= cnt
            assert cnt - stream_lb[key] <= total / (k + 1) + 1


def test_heavy_hitters_stream_multi_file_totals(spark, events_dir, tmp_path):
    import shutil as _sh

    from fabric_claims_spark.streaming.events_stream import (
        heavy_hitters_stream,
    )

    _sh.copy(f"{SF}/events.parquet", events_dir / "batch2.parquet")
    got = heavy_hitters_stream(
        spark,
        str(events_dir),
        str(tmp_path / "ckpt_hh2"),
        key_col="event_type",
        k=10,
        query_name="t_hh2",
    ).collect()
    one = spark.read.parquet(f"{SF}/events.parquet").count()
    assert got[0]["total_rows"] == 2 * one
    # doubled corpus, same distribution: all five types stay frequent
    assert len({r["event_type"] for r in got}) == 5


def test_segment_value_stream_matches_batch(spark, events_dir, tmp_path):
    from fabric_claims_spark.streaming.events_stream import (
        segment_value_stream,
    )

    got = {
        r["c_mktsegment"]: (r["purchases"], r["value_sum"])
        for r in segment_value_stream(
            spark,
            str(events_dir),
            f"{SF}/customer.parquet",
            str(tmp_path / "ckpt_seg"),
            query_name="t_seg",
        ).collect()
    }
    e = spark.read.parquet(str(events_dir)).where(F.col("event_type") == "purchase")
    c = spark.read.parquet(f"{SF}/customer.parquet").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    want = {
        r["c_mktsegment"]: (r["purchases"], r["value_sum"])
        for r in e.join(c, "user_id")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("purchases"),
            F.round(F.sum(F.col("value").cast("decimal(18,4)")), 4)
            .cast("double")
            .alias("value_sum"),
        )
        .collect()
    }
    assert got == want and len(got) > 0


def test_changepoint_stream_matches_batch(spark, events_dir, tmp_path):
    """Incremental day-count folding must reproduce the batch CUSUM
    exactly (integer math end-to-end), and a redelivered file must not
    double-count (batch_id skip)."""
    from fabric_claims_spark.streaming.events_stream import (
        changepoint_monitor_stream,
    )

    got = changepoint_monitor_stream(
        spark, str(events_dir), str(tmp_path / "ckpt_cusum"),
        query_name="t_cusum",
    ).collect()
    batch = (
        load_all_queries()["events_cusum_changepoint"]
        .fn(spark, SF)
        .collect()
    )
    g = [(r["day"], r["cnt"], r["cusum_scaled"], r["is_changepoint"]) for r in got]
    b = [(r["day"], r["cnt"], r["cusum_scaled"], r["is_changepoint"]) for r in batch]
    assert g == b

    # second run over the same (fully processed) source: AvailableNow
    # finds no new files, and the state is unchanged
    again = changepoint_monitor_stream(
        spark, str(events_dir), str(tmp_path / "ckpt_cusum"),
        query_name="t_cusum",
    ).collect()
    g2 = [(r["day"], r["cnt"], r["cusum_scaled"], r["is_changepoint"]) for r in again]
    assert g2 == b


def test_hll_stream_matches_batch(spark, events_dir, tmp_path):
    """Register-max folding across micro-batches must reproduce the
    batch HLL estimate bit-for-bit, and re-delivery must not change
    registers (MAX is idempotent)."""
    from fabric_claims_spark.streaming.events_stream import hll_users_stream

    got = {
        r["event_type"]: r["hll_estimate"]
        for r in hll_users_stream(
            spark, str(events_dir), str(tmp_path / "ckpt_hll"),
            query_name="t_hll",
        ).collect()
    }
    batch = {
        r["event_type"]: r["hll_estimate"]
        for r in load_all_queries()["events_hll_users_per_type"]
        .fn(spark, SF)
        .collect()
    }
    assert got == batch

    # redeliver the same file: registers (and the estimate) unchanged
    shutil.copy(f"{SF}/events.parquet", events_dir / "redeliver_hll.parquet")
    again = {
        r["event_type"]: r["hll_estimate"]
        for r in hll_users_stream(
            spark, str(events_dir), str(tmp_path / "ckpt_hll"),
            query_name="t_hll",
        ).collect()
    }
    assert again == batch


def test_transform_with_state_machine_matches_batch(spark, events_dir, tmp_path):
    """transformWithStateInPandas (Spark 4 typed-state API, RocksDB
    store): running totals and trailing-3 mean must match the batch
    computation, and a restart with a second file must resume state
    from the checkpoint (counts accumulate, ring stays length-3).

    Env-gated like the Delta tests: the TWS driver-worker protocol
    needs protobuf, absent in this container (no installs allowed —
    see README); the operator itself fail-fasts with the dependency
    name."""
    pytest.importorskip("google.protobuf")
    from pyspark.sql import Window

    from fabric_claims_spark.streaming.events_stream import (
        user_value_machine_stream,
    )

    ckpt = str(tmp_path / "ckpt_tws")
    got = user_value_machine_stream(
        spark, str(events_dir), ckpt, query_name="t_tws1"
    ).collect()

    events = spark.read.parquet(str(events_dir)).select(
        "event_id", "user_id", (F.round(F.col("value") * 100)).cast("bigint").alias("cents")
    )
    w = Window.partitionBy("user_id").orderBy(F.desc("event_id"))
    want = {
        r["user_id"]: (r["n"], r["total_cents"], r["recent_cents"], r["k"])
        for r in events.withColumn("rn", F.row_number().over(w))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").alias("total_cents"),
            F.sum(F.when(F.col("rn") <= 3, F.col("cents"))).alias("recent_cents"),
            F.sum(F.when(F.col("rn") <= 3, 1).otherwise(0)).alias("k"),
        )
        .collect()
    }
    g = {
        r["user_id"]: (r["events_seen"], r["value_total"], r["recent_mean"])
        for r in got
    }
    assert set(g) == set(want)
    for u, (n, total_cents, recent_cents, k) in want.items():
        assert g[u][0] == n
        assert g[u][1] == total_cents / 100.0
        assert abs(g[u][2] - recent_cents / 100.0 / k) < 1e-9

    # restart: a second copy of the file doubles counts (state resumed
    # from the RocksDB checkpoint, not recomputed)
    import shutil as _sh

    _sh.copy(f"{SF}/events.parquet", events_dir / "batch2.parquet")
    got2 = user_value_machine_stream(
        spark, str(events_dir), ckpt, query_name="t_tws2"
    ).collect()
    g2 = {r["user_id"]: r["events_seen"] for r in got2}
    for u in g2:
        assert g2[u] == 2 * want[u][0]


def test_transform_with_state_fail_fast_without_protobuf(spark, events_dir, tmp_path):
    """Inverse gate: when protobuf is absent the operator must raise
    the actionable ImportError up front, not die mid-stream with an
    opaque runner-initialization failure."""
    try:
        import google.protobuf  # noqa: F401

        pytest.skip("protobuf present — fail-fast path not reachable")
    except ImportError:
        pass
    from fabric_claims_spark.streaming.events_stream import (
        user_value_machine_stream,
    )

    with pytest.raises(ImportError, match="protobuf"):
        user_value_machine_stream(
            spark, str(events_dir), str(tmp_path / "ckpt_nopb")
        )


def test_heavy_hitters_state_survives_empty_summary(spark, events_dir, tmp_path):
    """>k distinct keys all tied at the cut legitimately empty the
    Misra-Gries summary — but the applied-batch-id / running-total
    state must survive on the sentinel row: a later batch must not
    reset the total, and a redelivered batch id must still skip."""
    from pyspark.sql import functions as F2

    from fabric_claims_spark.sources.merge import TableStore
    from fabric_claims_spark.streaming.events_stream import (
        heavy_hitters_stream,
    )

    ckpt = str(tmp_path / "ckpt_hh_empty")
    # event_id is unique per row: every key has count 1, so with
    # k << distinct keys the subtract zeroes everything
    got = heavy_hitters_stream(
        spark, str(events_dir), ckpt, key_col="event_id", k=5,
        query_name="t_hh_empty",
    )
    assert got.count() == 0  # no candidates — correct MG behavior
    n = spark.read.parquet(str(events_dir)).count()
    state = TableStore(spark, f"{ckpt}_table").read("t_hh_empty")
    head = state.agg(
        F2.max("_applied_batch_id"), F2.max("_total_rows")
    ).head()
    assert head[0] == 0 and head[1] == n  # state survived

    shutil.copy(f"{SF}/events.parquet", events_dir / "batch2.parquet")
    heavy_hitters_stream(
        spark, str(events_dir), ckpt, key_col="event_id", k=5,
        query_name="t_hh_empty",
    )
    state2 = TableStore(spark, f"{ckpt}_table").read("t_hh_empty")
    head2 = state2.agg(
        F2.max("_applied_batch_id"), F2.max("_total_rows")
    ).head()
    # total accumulated (not reset to the second batch's size alone)
    assert head2[1] == 2 * n


def _tear_last_commit(ckpt: str) -> None:
    """Simulate a crash in the torn-batch window of foreachBatch's
    at-least-once contract: Structured Streaming writes offsets/<n>
    BEFORE running the sink and commits/<n> AFTER it, so deleting the
    newest commit record while keeping its offset record reproduces
    exactly the on-disk state of a process killed between the sink's
    state write and the checkpoint commit. On restart the engine
    replans batch <n> from the offset log and redelivers it to the
    sink with the SAME batch_id."""
    import os

    commits = sorted(
        f for f in os.listdir(os.path.join(ckpt, "commits"))
        if not f.startswith(".")
    )
    os.remove(os.path.join(ckpt, "commits", commits[-1]))
    # a killed process leaves neither the commit record nor its
    # checksum twin — remove the local-FS .crc shadow too, or the
    # restart's atomic rename refuses the destination
    crc = os.path.join(ckpt, "commits", f".{commits[-1]}.crc")
    if os.path.exists(crc):
        os.remove(crc)


def test_rollup_stream_torn_batch_restart_is_exact(spark, events_dir, tmp_path):
    """Kill-mid-batch recovery for the incremental-gold rollup: after
    tearing the last commit, the restart redelivers the applied batch
    and the in-state applied-batch-id guard must skip it — the rollup
    equals the one-shot batch aggregate, never a double-fold."""
    from fabric_claims_spark.streaming.events_stream import (
        rollup_maintenance_stream,
    )

    ckpt = str(tmp_path / "ckpt_rollup_torn")
    rollup_maintenance_stream(spark, str(events_dir), ckpt, "t_rollup_torn")
    _tear_last_commit(ckpt)
    got = rollup_maintenance_stream(  # restart over the torn checkpoint
        spark, str(events_dir), ckpt, "t_rollup_torn"
    )
    e = spark.read.parquet(str(events_dir))
    want = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("value").cast("decimal(18,4)")).alias("v"),
        F.min(F.col("value").cast("decimal(18,4)")).alias("v_min"),
        F.max(F.col("value").cast("decimal(18,4)")).alias("v_max"),
    )
    g = {
        r["event_type"]: (r["n"], r["v"], r["v_min"], r["v_max"])
        for r in got.collect()
    }
    w = {
        r["event_type"]: (r["n"], r["v"], r["v_min"], r["v_max"])
        for r in want.collect()
    }
    assert g == w and len(g) > 0


def test_heavy_hitters_torn_batch_restart_is_exact(spark, events_dir, tmp_path):
    """Same torn-batch recovery for the Misra-Gries stream: the
    redelivered batch must not inflate counters or the running total,
    and a genuinely NEW batch after recovery must still fold in."""
    from fabric_claims_spark.sources.merge import TableStore
    from fabric_claims_spark.streaming.events_stream import (
        heavy_hitters_stream,
    )

    ckpt = str(tmp_path / "ckpt_hh_torn")
    heavy_hitters_stream(
        spark, str(events_dir), ckpt, key_col="event_type", k=10,
        query_name="t_hh_torn",
    )
    n = spark.read.parquet(str(events_dir)).count()
    _tear_last_commit(ckpt)
    got = heavy_hitters_stream(  # restart: batch 0 redelivered
        spark, str(events_dir), ckpt, key_col="event_type", k=10,
        query_name="t_hh_torn",
    ).collect()
    assert got[0]["total_rows"] == n  # not double-counted
    exact = {
        r["event_type"]: r["count"]
        for r in spark.read.parquet(str(events_dir))
        .groupBy("event_type").count().collect()
    }
    for r in got:  # lower-bound property intact after recovery
        assert r["lower_bound"] <= exact[r["event_type"]]
    state = TableStore(spark, f"{ckpt}_table").read("t_hh_torn")
    assert state.agg(F.max("_applied_batch_id")).head()[0] == 0

    # post-recovery liveness: a new file must be a NEW batch id
    shutil.copy(f"{SF}/events.parquet", events_dir / "batch2.parquet")
    got2 = heavy_hitters_stream(
        spark, str(events_dir), ckpt, key_col="event_type", k=10,
        query_name="t_hh_torn",
    ).collect()
    assert got2[0]["total_rows"] == 2 * n


def test_join_view_stream_matches_batch_join(spark, events_dir, tmp_path):
    """Incremental join-view maintenance: after the stream drains, the
    maintained purchases-join-signups view equals the one-shot batch
    join of the full history (the delta-join identity is exact and
    never duplicates a pair)."""
    from fabric_claims_spark.streaming.events_stream import join_view_stream

    got = join_view_stream(
        spark, str(events_dir), str(tmp_path / "ckpt_jv"), "t_jv"
    )
    e = spark.read.parquet(str(events_dir)).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    p = e.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("p_event_id"), "value"
    )
    s = e.where(F.col("event_type") == "signup").select(
        "user_id", F.col("event_id").alias("s_event_id")
    )
    want = {
        (r["user_id"], r["p_event_id"], r["s_event_id"], r["value"])
        for r in p.join(s, "user_id").collect()
    }
    g = {
        (r["user_id"], r["p_event_id"], r["s_event_id"], r["value"])
        for r in got.collect()
    }
    assert g == want and len(g) > 0


def test_join_view_stream_joins_across_batches(spark, events_dir, tmp_path):
    """The IVM terms that matter: a purchase arriving in batch 2 must
    join signups from batch 1 (ΔL x R_old) and vice versa (L_old x
    ΔR) — the maintained view after two batches equals the batch join
    over BOTH files, with cross-batch pairs present."""
    from fabric_claims_spark.streaming.events_stream import join_view_stream

    ckpt = str(tmp_path / "ckpt_jv2")
    join_view_stream(spark, str(events_dir), ckpt, "t_jv2")
    shutil.copy(f"{SF}/events.parquet", events_dir / "batch2.parquet")
    got = join_view_stream(spark, str(events_dir), ckpt, "t_jv2")

    e = spark.read.parquet(str(events_dir))
    p = e.where(F.col("event_type") == "purchase")
    s = e.where(F.col("event_type") == "signup")
    # duplicated corpus: every (purchase, signup) user pair appears
    # 2x2 = 4 ways via distinct event-id copies
    want_rows = p.join(
        s.select("user_id", F.col("event_id").alias("s_event_id")),
        "user_id",
    ).count()
    assert got.count() == want_rows


def test_join_view_stream_torn_batch_recovery(spark, events_dir, tmp_path):
    """The single-table state discipline: tear the commit record, and
    the redelivered batch must be skipped — no duplicated view rows,
    no torn accumulator/view divergence (they share one atomic
    commit)."""
    from fabric_claims_spark.streaming.events_stream import join_view_stream

    ckpt = str(tmp_path / "ckpt_jv3")
    first = join_view_stream(spark, str(events_dir), ckpt, "t_jv3").count()
    _tear_last_commit(ckpt)
    again = join_view_stream(spark, str(events_dir), ckpt, "t_jv3").count()
    assert again == first


@pytest.mark.parametrize(
    "stream_fn",
    ["changepoint_monitor_stream", "hll_users_stream", "cms_maintenance_stream"],
)
def test_fold_stream_torn_batch_restart_is_exact(
    spark, events_dir, tmp_path, stream_fn
):
    """Torn-commit recovery for the streams that fold through
    ``streaming.fold``: the restart redelivers batch 0 under the SAME
    batch id (a re-delivered file would get a new one), so only the
    rollup's applied-batch-id skip keeps it from folding twice — the
    result equals the pre-tear result and the state still records
    batch 0."""
    from fabric_claims_spark.sources.merge import TableStore
    from fabric_claims_spark.streaming import events_stream

    run = getattr(events_stream, stream_fn)
    ckpt = str(tmp_path / "ckpt_fold_torn")

    def result():
        rows = run(spark, str(events_dir), ckpt, query_name="t_fold_torn")
        return sorted(map(tuple, rows.collect()), key=str)

    first = result()
    _tear_last_commit(ckpt)
    assert result() == first and len(first) > 0
    state = TableStore(spark, f"{ckpt}_table").read("t_fold_torn")
    assert state.agg(F.max("_applied_batch_id")).head()[0] == 0


def test_cms_stream_cells_match_batch_sketch(spark, events_dir, tmp_path):
    """The streamed CMS cell table equals the batch-built sketch (cell
    counters are mergeable across micro-batch boundaries), estimates
    probed from it satisfy the never-underestimate invariant, and a
    second batch folds in additively."""
    from fabric_claims_spark.queries.stats import _CMS_D, _CMS_W
    from fabric_claims_spark.streaming.events_stream import (
        cms_maintenance_stream,
    )

    ckpt = str(tmp_path / "ckpt_cms")
    cells = cms_maintenance_stream(spark, str(events_dir), ckpt,
                                   query_name="t_cms")
    e = spark.read.parquet(str(events_dir))
    n = e.count()
    got = {(r["i"], r["bucket"]): r["n"] for r in cells.collect()}
    assert sum(v for (i, _), v in got.items() if i == 0) == n  # each row sums to n
    assert all(0 <= b < _CMS_W and 0 <= i < _CMS_D for i, b in got)

    # batch twin: estimates from the streamed cells are >= exact
    def bucket(i, key):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(str(i) + ":"),
                                   F.col(key).cast("string"))), 1, 15),
                16, 10,
            ).cast("long") % _CMS_W
        )

    exact = {r["user_id"]: r["count"]
             for r in e.groupBy("user_id").count().collect()}
    probes = e.select("user_id").distinct().select(
        "user_id", *[bucket(i, "user_id").alias(f"b{i}")
                     for i in range(_CMS_D)]
    ).collect()
    for r in probes:
        est = min(got[(i, r[f"b{i}"])] for i in range(_CMS_D))
        assert est >= exact[r["user_id"]]

    shutil.copy(f"{SF}/events.parquet", events_dir / "batch2.parquet")
    cells2 = cms_maintenance_stream(spark, str(events_dir), ckpt,
                                    query_name="t_cms")
    got2 = {(r["i"], r["bucket"]): r["n"] for r in cells2.collect()}
    assert all(got2[k] == 2 * v for k, v in got.items())


def test_psi_monitor_stream_matches_batch_and_detects_shift(
    spark, events_dir, tmp_path
):
    """Streaming drift alarm: against ITSELF as baseline the live
    distribution is maximally stable (every term ~0, verdict stable);
    the redelivery guard holds after a torn commit; and against a
    SHIFTED baseline the verdict escalates."""
    from fabric_claims_spark.streaming.events_stream import (
        psi_monitor_stream,
    )

    ckpt = str(tmp_path / "ckpt_psi")
    base_self = str(events_dir / "batch1.parquet")
    out = psi_monitor_stream(
        spark, str(events_dir), base_self, ckpt, query_name="t_psi"
    ).collect()
    assert len(out) == 10
    assert out[0]["verdict"] == "stable"
    assert abs(out[0]["psi_total"]) < 1e-6  # identical distributions
    n = spark.read.parquet(str(events_dir)).count()
    assert sum(r["live_count"] for r in out) == n

    # torn commit: redelivered batch must not double-fold
    _tear_last_commit(ckpt)
    out2 = psi_monitor_stream(
        spark, str(events_dir), base_self, ckpt, query_name="t_psi"
    ).collect()
    assert sum(r["live_count"] for r in out2) == n

    # shifted baseline (values scaled 3x -> mass moves across bins)
    shifted = str(tmp_path / "shifted_base")
    spark.read.parquet(str(events_dir)).withColumn(
        "value", F.col("value") * 3
    ).write.parquet(shifted)
    out3 = psi_monitor_stream(
        spark, str(events_dir), shifted, ckpt, query_name="t_psi"
    ).collect()
    assert out3[0]["psi_total"] > out[0]["psi_total"]
    assert out3[0]["verdict"] in ("moderate_shift", "shifted")


def test_funnel_monitor_stream_matches_batch(spark, events_dir, tmp_path):
    """Streaming windowed funnel: after one availableNow pass over the
    seeded events, the stream's output must equal the batch query
    row-for-row (the chained min-aggregate core is shared, so equality
    proves the folded event set is right); a torn commit must not
    change the funnel; and a late EARLIER step-1 event must move the
    anchor — the semantics that force the state to be the deduped
    event set rather than per-step anchors."""
    from fabric_claims_spark.streaming.events_stream import (
        funnel_monitor_stream,
    )

    ckpt = str(tmp_path / "ckpt_funnel")
    out = funnel_monitor_stream(
        spark, str(events_dir), ckpt, query_name="t_funnel"
    )
    batch = load_all_queries()["events_funnel_windowed"].fn(spark, SF)
    assert [tuple(r) for r in out.collect()] == [
        tuple(r) for r in batch.collect()
    ]

    # torn commit: redelivery of the same batch_id must be a no-op
    _tear_last_commit(ckpt)
    out2 = funnel_monitor_stream(
        spark, str(events_dir), ckpt, query_name="t_funnel"
    )
    assert [tuple(r) for r in out2.collect()] == [
        tuple(r) for r in batch.collect()
    ]

    # late anchor-mover: for every user, drop in a signup BEFORE their
    # current first signup with no conversion window behind it — step-1
    # count is unchanged (same users) but steps 2+ can only shrink,
    # and on this fixture they must strictly shrink (the old anchors
    # had conversions inside the window; the new ones sit 30 days
    # earlier, outside every window)
    import glob
    import shutil as _sh

    e = spark.read.parquet(str(events_dir / "batch1.parquet"))
    build = str(tmp_path / "late_build")
    (
        e.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("ts"))
        .select(
            F.monotonically_increasing_id().alias("event_id"),
            "user_id",
            F.lit("signup").alias("event_type"),
            (F.col("ts") - F.expr("INTERVAL 30 DAYS")).alias("ts"),
            F.lit(0.0).alias("value"),
            F.lit(None).cast("string").alias("props"),
        )
        .coalesce(1)
        .write.parquet(build)
    )
    part = glob.glob(f"{build}/part-*.parquet")[0]
    _sh.copy(part, events_dir / "batch2_late.parquet")
    out3 = funnel_monitor_stream(
        spark, str(events_dir), ckpt, query_name="t_funnel"
    )
    got3 = {r["step_name"]: r["users"] for r in out3.collect()}
    base = {r["step_name"]: r["users"] for r in batch.collect()}
    assert got3["signup"] == base["signup"]
    assert got3["view"] < base["view"]


def test_zscore_stream_batch_parity_on_null_ts(spark, tmp_path):
    """NULL-ts policy parity: the stream filters ts IS NULL at the
    source, so the batch query must apply the same policy — on data
    containing NULL timestamps the stream==batch row-for-row
    invariant must hold (no batch-only NULL-day group)."""
    from fabric_claims_spark.sources.parquet import load_table
    from fabric_claims_spark.streaming.events_stream import (
        zscore_monitor_stream,
    )

    base = load_table(spark, SF, "events").select(
        "event_id", "user_id", "event_type",
        F.col("ts").cast("timestamp").alias("ts"),
        "value", "props",
    )
    withnull = base.unionByName(
        base.limit(7).withColumn("ts", F.lit(None).cast("timestamp"))
    )
    sf_like = tmp_path / "sf_null"
    sf_like.mkdir()
    withnull.coalesce(1).write.parquet(str(sf_like / "events.parquet"))

    batch = load_all_queries()["events_daily_modified_zscore"].fn(
        spark, str(sf_like)
    )
    assert batch.where(F.col("day").isNull()).count() == 0

    ev_dir = str(tmp_path / "ev_null")
    withnull.coalesce(1).write.parquet(ev_dir)
    out = zscore_monitor_stream(
        spark, ev_dir, str(tmp_path / "ckpt_znull"), query_name="t_znull"
    )
    assert sorted(tuple(r) for r in out.collect()) == sorted(
        tuple(r) for r in batch.collect()
    )


def test_zscore_monitor_stream_matches_batch(spark, events_dir, tmp_path):
    """Streaming robust-anomaly monitor: after one availableNow pass
    over the seeded events, the stream's output must equal the batch
    query row-for-row (the scoring core is shared, so equality proves
    the folded counts are right); a torn commit must not double-fold;
    and a second file with a flood day must flip that day to an
    outlier."""
    from fabric_claims_spark.streaming.events_stream import (
        zscore_monitor_stream,
    )

    ckpt = str(tmp_path / "ckpt_z")
    out = zscore_monitor_stream(
        spark, str(events_dir), ckpt, query_name="t_z"
    )
    batch = load_all_queries()["events_daily_modified_zscore"].fn(spark, SF)
    assert [tuple(r) for r in out.collect()] == [
        tuple(r) for r in batch.collect()
    ]

    # torn commit: redelivery of the same batch_id must be a no-op
    _tear_last_commit(ckpt)
    out2 = zscore_monitor_stream(
        spark, str(events_dir), ckpt, query_name="t_z"
    )
    assert [tuple(r) for r in out2.collect()] == [
        tuple(r) for r in batch.collect()
    ]

    # flood one day for one type: that (type, day) must flag
    e = spark.read.parquet(str(events_dir / "batch1.parquet"))
    flood_type, flood_day = (
        e.select(
            "event_type",
            F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
        )
        .groupBy("event_type", "day")
        .count()
        .orderBy("event_type", "day")
        .first()[:2]
    )
    # build a 20x flood of that day's slice OUTSIDE the watched dir,
    # then drop it in as one new file (the stream source tracks
    # files, not nested directories)
    import glob
    import shutil as _sh

    build = str(tmp_path / "flood_build")
    (
        e.where(
            (F.col("event_type") == flood_type)
            & (F.date_trunc("day", F.col("ts")).cast("date") == flood_day)
        )
        .crossJoin(spark.range(20).select(F.lit(1).alias("_r")))
        .drop("_r")
        .coalesce(1)
        .write.parquet(build)
    )
    part = glob.glob(f"{build}/part-*.parquet")[0]
    _sh.copy(part, events_dir / "batch2_flood.parquet")
    out3 = zscore_monitor_stream(
        spark, str(events_dir), ckpt, query_name="t_z"
    )
    got = {
        (r["event_type"], r["day"]): r for r in out3.collect()
    }
    r = got[(flood_type, flood_day)]
    assert r["is_outlier"] and r["mod_z"] > 3.5
