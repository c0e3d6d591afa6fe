"""Runtime re-planning evidence: AQE must split a skewed join
partition at execution time — the runtime half of the skew story
(operators/joins.py salting is the compile-time half)."""

import pytest
from pyspark.sql import functions as F

SKEW_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    # test-sized thresholds: production defaults (256 MB) scaled down
    # so a ~27 MB hot partition counts as skewed here
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "262144",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "131072",
    # keep the join a sort-merge join (broadcast would dissolve it)
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    # the join output feeds another shuffle (the aggregate), so the
    # skew split introduces an extra exchange — allow it, as a real
    # deployment would for a pathological key
    "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
}


@pytest.fixture()
def skew_session(spark):
    before = {k: spark.conf.get(k, None) for k in SKEW_CONF}
    for k, v in SKEW_CONF.items():
        spark.conf.set(k, v)
    yield spark
    for k, v in before.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


def test_aqe_splits_skewed_join_partition(skew_session):
    """90% of fact rows share one key (the pathological customer). The
    executed plan must show SortMergeJoin(skew=true) with a 'skewed'
    AQEShuffleRead — the hot partition split into advisory-sized
    slices at runtime — and the result must equal the unskewed
    computation. Incompressible payloads matter: a pruned-to-keys
    probe side compresses below any threshold (that near-miss is why
    this test aggregates over the payload)."""
    spark = skew_session
    left = spark.range(0, 300000).select(
        F.when(F.col("id") % 10 < 9, 0)
        .otherwise(F.col("id") % 50)
        .alias("k"),
        F.sha2(F.col("id").cast("string"), 256).alias("payload"),
    )
    right = spark.range(0, 50).select(
        F.col("id").alias("k"), F.lit("dim").alias("attr")
    )
    agg = (
        left.join(right, "k")
        .groupBy("attr")
        .agg(F.count(F.lit(1)).alias("n"), F.max("payload").alias("mx"))
    )
    rows = agg.collect()
    plan = agg._jdf.queryExecution().toString()
    assert "skew=true" in plan
    assert "skewed" in plan  # the AQEShuffleRead marker
    # correctness unchanged by the split: every left row joins exactly
    # one dim row (keys 0..49 all present on the right)
    assert rows[0]["n"] == 300000


@pytest.mark.slow
def test_aqe_skew_split_blind_to_inline_aggregate_build_side(skew_session):
    """The join-back shape `facts JOIN (facts GROUP BY k)` — the
    engine's standard hot-key-safe aggregate + join-back — can NOT be
    skew-split by AQE while the aggregate sits inline above its
    shuffle: OptimizeSkewedJoin pattern-matches Sort-over-shuffle-
    stage children only, so the pattern never matches regardless of
    thresholds. Staging the aggregate as its own materialization
    boundary restores the split. Measured in SCALING.md "AQE
    skew-split: the measured truth" (round-7 table: inline 32 tasks /
    85k-row hot task at every threshold;
    staged 107 tasks / 5.5k-row max). This pins the reason the
    grouped join-back's memory-safety argument rests on the STREAMING
    merge join, not on AQE splitting."""
    spark = skew_session
    checkpointed = []

    def ckpt(df):
        out = df.localCheckpoint()
        checkpointed.append(out)
        return out

    left = ckpt(
        spark.range(0, 300000).select(
            F.when(F.col("id") % 10 < 9, 0)
            .otherwise(F.col("id") % 50)
            .alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("payload"),
        )
    )

    def run(staged: bool):
        stats = left.groupBy("k").agg(F.count(F.lit(1)).alias("df"))
        if staged:
            stats = ckpt(stats)
        agg = (
            left.join(stats, "k")
            .groupBy()
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("df").alias("s"),
                F.max("payload").alias("mx"),
            )
        )
        rows = agg.collect()
        plan = agg._jdf.queryExecution().toString()
        return rows[0], ("skew=true" in plan)

    try:
        inline_row, inline_skew = run(staged=False)
        staged_row, staged_skew = run(staged=True)
    finally:
        # localCheckpoint blocks persist for the SESSION; the shared
        # fixture later runs test_caching's persistent-RDD censuses,
        # which assume a clean slate. df.rdd.unpersist() does NOT
        # release the internal checkpoint RDD, so sweep the JVM
        # registry the way bench.py does between queries.
        del checkpointed
        jsc = spark.sparkContext._jsc.sc()
        it = jsc.getPersistentRDDs().values().iterator()
        while it.hasNext():
            it.next().unpersist(False)
    assert not inline_skew  # the blindness, pinned
    assert staged_skew  # same data, same thresholds, staged -> splits
    assert tuple(inline_row) == tuple(staged_row)  # results unchanged
