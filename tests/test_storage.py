"""TableStore (versioned-parquet MERGE fallback) and WatermarkStore
unit tests (SURVEY.md §5 items 1 & 4)."""

from datetime import datetime, timezone

import pytest

from fabric_claims_spark.sources.merge import TableStore
from fabric_claims_spark.sources.state import EPOCH, WatermarkStore


@pytest.fixture()
def store(spark, tmp_path):
    return TableStore(spark, str(tmp_path / "wh"))


def _df(spark, rows):
    return spark.createDataFrame(rows, "id int, val string, amt double")


def test_overwrite_read_roundtrip(spark, store):
    store.overwrite("t", _df(spark, [(1, "a", 1.0)]))
    assert store.exists("t")
    assert store.read("t").count() == 1
    store.overwrite("t", _df(spark, [(1, "a", 1.0), (2, "b", 2.0)]))
    assert store.read("t").count() == 2


def test_append_accumulates(spark, store):
    store.append("t", _df(spark, [(1, "a", 1.0)]))
    store.append("t", _df(spark, [(2, "b", 2.0)]))
    assert store.read("t").count() == 2


def test_merge_insert_update_counts(spark, store):
    s1 = _df(spark, [(1, "a", 1.0), (2, "b", 2.0)])
    stats = store.merge("t", s1, keys=["id"])
    assert (stats.inserted, stats.updated) == (2, 0)

    # re-deliver: one unchanged, one changed, one new
    s2 = _df(spark, [(1, "a", 1.0), (2, "b", 99.0), (3, "c", 3.0)])
    stats = store.merge("t", s2, keys=["id"])
    assert (stats.inserted, stats.updated) == (1, 1)

    got = {r["id"]: r["amt"] for r in store.read("t").collect()}
    assert got == {1: 1.0, 2: 99.0, 3: 3.0}


def test_merge_null_safe_change_detection(spark, store):
    """P10: null→value and value→null both count as changes;
    null→null does not (SP_UPSERT ISNULL gates)."""
    s1 = spark.createDataFrame([(1, None), (2, "x"), (3, None)], "id int, val string")
    store.merge("t", s1, keys=["id"])
    s2 = spark.createDataFrame([(1, "now"), (2, None), (3, None)], "id int, val string")
    stats = store.merge("t", s2, keys=["id"])
    assert (stats.inserted, stats.updated) == (0, 2)


def test_merge_idempotent(spark, store):
    s = _df(spark, [(1, "a", 1.0)])
    store.merge("t", s, keys=["id"])
    stats = store.merge("t", s, keys=["id"])
    assert (stats.inserted, stats.updated) == (0, 0)
    assert store.read("t").count() == 1


def test_merge_preserves_target_only_rows(spark, store):
    store.merge("t", _df(spark, [(1, "a", 1.0), (2, "b", 2.0)]), keys=["id"])
    store.merge("t", _df(spark, [(2, "b", 5.0)]), keys=["id"])
    got = {r["id"]: r["amt"] for r in store.read("t").collect()}
    assert got == {1: 1.0, 2: 5.0}


def test_partitioned_merge_prunes_and_hardlinks(spark, store, tmp_path):
    """Partition-pruned merge: only partitions present in the batch
    rewrite; untouched partitions carry over as hardlinks (same
    inode), and results match plain merge semantics."""
    import os

    df1 = spark.createDataFrame(
        [(1, "2024-01", 10.0), (2, "2024-01", 20.0), (3, "2024-02", 30.0),
         (4, "2024-03", 40.0)],
        "id int, month string, amt double",
    )
    store.merge("t", df1, keys=["id"], partition_col="month")
    root = store._dir("t")
    v1 = store._current_version("t")

    def part_inodes(version, part):
        d = os.path.join(root, version, f"month={part}")
        return {f: os.stat(os.path.join(d, f)).st_ino
                for f in os.listdir(d) if not f.startswith("_")}

    jan_before = part_inodes(v1, "2024-01")

    # batch touches only 2024-02 (update) and 2024-04 (new partition)
    df2 = spark.createDataFrame(
        [(3, "2024-02", 99.0), (5, "2024-04", 50.0)],
        "id int, month string, amt double",
    )
    stats = store.merge("t", df2, keys=["id"], partition_col="month")
    assert (stats.inserted, stats.updated) == (1, 1)

    v2 = store._current_version("t")
    assert v2 != v1
    # untouched partition: identical inodes (hardlinked, not copied)
    assert part_inodes(v2, "2024-01") == jan_before

    got = {r["id"]: (r["month"], r["amt"]) for r in store.read("t").collect()}
    assert got == {
        1: ("2024-01", 10.0), 2: ("2024-01", 20.0), 3: ("2024-02", 99.0),
        4: ("2024-03", 40.0), 5: ("2024-04", 50.0),
    }

    # idempotent re-apply: no-op counts, rows unchanged
    stats2 = store.merge("t", df2, keys=["id"], partition_col="month")
    assert (stats2.inserted, stats2.updated) == (0, 0)
    assert store.read("t").count() == 5


@pytest.mark.parametrize("first_write", ["merge", "append"])
def test_partitioned_merge_over_flat_table_keeps_every_row(
    spark, store, first_write
):
    """A partitioned merge into a table whose current version is flat
    (created by a plain merge, or after any append) has no partition
    directories to carry: it must merge the whole table and re-lay it
    out on the partition column, not drop every row outside the
    batch's partitions."""
    import os

    schema = "id int, month string, amt double"
    base = spark.createDataFrame(
        [(1, "2024-01", 10.0), (2, "2024-02", 20.0), (3, "2024-03", 30.0)],
        schema,
    )
    if first_write == "merge":
        store.merge("t", base, keys=["id"])
    else:
        store.append("t", base)

    batch = spark.createDataFrame([(2, "2024-02", 99.0)], schema)
    stats = store.merge("t", batch, keys=["id"], partition_col="month")
    assert (stats.inserted, stats.updated) == (0, 1)

    got = {r["id"]: (r["month"], r["amt"]) for r in store.read("t").collect()}
    assert got == {
        1: ("2024-01", 10.0), 2: ("2024-02", 99.0), 3: ("2024-03", 30.0),
    }
    vdir = os.path.join(store._dir("t"), store._current_version("t"))
    assert sorted(d for d in os.listdir(vdir) if d.startswith("month=")) == [
        "month=2024-01", "month=2024-02", "month=2024-03",
    ]

    # the re-laid-out table now takes the pruned path: the untouched
    # partitions carry over, and the rows stay the same
    stats = store.merge("t", batch, keys=["id"], partition_col="month")
    assert (stats.inserted, stats.updated) == (0, 0)
    assert store.read("t").count() == 3


def test_partitioned_merge_null_and_escaped_partition_values(spark, store):
    """Null partition values land in __HIVE_DEFAULT_PARTITION__ and
    special characters hive-escape on disk; neither may be BOTH
    hardlinked from the old version AND rewritten from source
    (duplicated rows), nor silently dropped."""
    schema = "id int, month string, v string"
    base = spark.createDataFrame(
        [(1, "2024-01", "a"), (2, None, "n0"), (3, "a b:c", "e0"), (4, "2024-02", "b")],
        schema,
    )
    store.merge("t", base, keys=["id"], partition_col="month")

    # batch updates the null partition and the escaped partition
    batch = spark.createDataFrame(
        [(2, None, "n1"), (3, "a b:c", "e1"), (5, None, "n2")], schema
    )
    stats = store.merge("t", batch, keys=["id"], partition_col="month")
    assert (stats.inserted, stats.updated) == (1, 2)

    got = {r["id"]: (r["month"], r["v"]) for r in store.read("t").collect()}
    assert got == {
        1: ("2024-01", "a"),
        2: (None, "n1"),
        3: ("a b:c", "e1"),
        4: ("2024-02", "b"),
        5: (None, "n2"),
    }
    # no duplicated ids (the old hardlink+rewrite bug doubled rows)
    assert store.read("t").count() == 5


def test_vacuum_keeps_newest_versions_by_mtime(spark, store):
    """Version names are random hex; retention must follow mtime, not
    lexicographic name order — a recent-but-lexicographically-small
    version must survive while an ancient lexicographically-large one
    is pruned."""
    import os

    store.overwrite("t", _df(spark, [(1, "a", 1.0)]))
    cur = store._current_version("t")
    table_dir = os.path.join(store.root, "t")
    # ancient version whose name sorts LAST, plus four recent ones
    # whose names sort first
    old_lexi_last = os.path.join(table_dir, "v_zzzzzzzzzzzz")
    os.makedirs(old_lexi_last)
    os.utime(old_lexi_last, (1_000_000, 1_000_000))
    recent = [os.path.join(table_dir, f"v_aaaaaaaaaaa{i}") for i in range(4)]
    for i, d in enumerate(recent):
        os.makedirs(d)
        os.utime(d, (2_000_000 + i, 2_000_000 + i))

    store._vacuum("t", keep=cur)
    left = {d for d in os.listdir(table_dir) if d.startswith("v_")}
    assert cur in left
    assert "v_zzzzzzzzzzzz" not in left  # oldest pruned despite name
    # the three mtime-newest fakes survive (_KEEP_VERSIONS = 3)
    assert {os.path.basename(d) for d in recent[1:]} <= left
    assert os.path.basename(recent[0]) not in left


def test_vacuum_keeps_newest_versions_by_stamp(spark, store):
    """Stamped version ids order by their nanosecond commit stamp,
    not by mtime: a version whose directory mtime is older than the
    others' (copied, restored, or touched out of order) is still the
    newer commit and must survive the vacuum."""
    import os

    store.overwrite("t", _df(spark, [(1, "a", 1.0)]))
    cur = store._current_version("t")
    table_dir = os.path.join(store.root, "t")
    # five stamped versions older than cur; mtimes run the other way
    stamped = [f"v_{i:020d}_abcdef" for i in range(1, 6)]
    for i, v in enumerate(stamped):
        os.makedirs(os.path.join(table_dir, v))
        os.utime(os.path.join(table_dir, v), (3_000_000 - i, 3_000_000 - i))

    store._vacuum("t", keep=cur)
    left = {d for d in os.listdir(table_dir) if d.startswith("v_")}
    assert left == {cur, *stamped[2:]}


def test_compact_preserves_data(spark, store):
    for i in range(5):
        store.append("t", _df(spark, [(i, "x", float(i))]))
    before = sorted(map(tuple, store.read("t").collect()))
    store.compact("t", target_partitions=1)
    after_df = store.read("t")
    assert sorted(map(tuple, after_df.collect())) == before
    assert len(after_df.inputFiles()) == 1
    assert store.file_count("t") == 1


def test_compact_keeps_the_partition_layout(spark, store):
    """A version laid out on ``month`` is compacted into the same
    layout, so a later partitioned merge still prunes to the batch's
    partitions instead of re-laying out the whole table."""
    import os

    schema = "id int, month string, amt double"
    for month, ids in (("2024-01", (1, 2)), ("2024-02", (3, 4))):
        batch = spark.createDataFrame(
            [(i, month, float(i)) for i in ids], schema
        )
        store.merge("t", batch, keys=["id"], partition_col="month")
    before = sorted(map(tuple, store.read("t").collect()))

    store.compact("t", target_partitions=1)

    assert sorted(map(tuple, store.read("t").collect())) == before
    _, files = store._files("t")
    assert sorted({f.split(os.sep)[0] for f in files}) == [
        "month=2024-01", "month=2024-02",
    ]
    assert store.file_count("t") == len(files) == 2


def test_watermark_store(tmp_path):
    clock = lambda: datetime(2024, 5, 1, tzinfo=timezone.utc)  # noqa: E731
    wm = WatermarkStore(str(tmp_path / "wm"), clock=clock)
    assert wm.read("bronze") == EPOCH
    wm.write("bronze", "2024-04-01T00:00:00Z")
    assert wm.read("bronze") == "2024-04-01T00:00:00Z"
    assert WatermarkStore.is_newer("2024-04-02T00:00:00Z", wm.read("bronze"))
    assert not WatermarkStore.is_newer("2024-04-01T00:00:00Z", wm.read("bronze"))
    # datetime input formats to UTC ISO-8601 seconds
    assert wm.write("silver") == "2024-05-01T00:00:00Z"


def test_additive_rollup_batch_order_invariant(spark, tmp_path):
    """Folding batches in any order yields the identical rollup —
    the monoid/semilattice property incremental gold rests on."""
    from fabric_claims_spark.operators.rollup import (
        maintain_additive_rollup,
    )
    from fabric_claims_spark.sources.merge import TableStore
    from pyspark.sql import functions as F

    rows = [
        ("A", 10.0), ("A", 5.0), ("B", 7.0), ("B", 1.0), ("A", 2.0),
    ]
    df = spark.createDataFrame(rows, "k string, v double").select(
        "k",
        F.col("v").cast("decimal(18,4)").alias("v"),
        F.col("v").cast("decimal(18,4)").alias("v_min"),
        F.col("v").cast("decimal(18,4)").alias("v_max"),
    )
    batches = [df.where(F.col("v") >= 5), df.where(F.col("v") < 5)]

    def run(order, name):
        store = TableStore(spark, str(tmp_path / name))
        state = None
        for b in order:
            state = maintain_additive_rollup(
                store, "r", b, keys=["k"], sum_cols=["v"],
                min_cols=["v_min"], max_cols=["v_max"],
            )
        return sorted(map(tuple, state.collect()))

    fwd = run(batches, "fwd")
    rev = run(list(reversed(batches)), "rev")
    assert fwd == rev
    got = {r[0]: r for r in fwd}
    assert got["A"][1] == 3 and float(got["A"][2]) == 17.0
    assert float(got["A"][3]) == 2.0 and float(got["A"][4]) == 10.0


def test_idempotent_rollup_skips_redelivered_batch(spark, tmp_path):
    """foreachBatch is at-least-once: a crash between sink completion
    and checkpoint commit redelivers the same batch_id. The idempotent
    fold must treat the redelivery as a no-op (exactly-once end state)
    while still folding genuinely new batch_ids."""
    from fabric_claims_spark.operators.rollup import (
        APPLIED_BATCH_COL,
        maintain_additive_rollup_idempotent,
    )
    from fabric_claims_spark.sources.merge import TableStore
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("A", 10.0), ("B", 7.0)], "k string, v double"
    ).select("k", F.col("v").cast("decimal(18,4)").alias("v"))
    store = TableStore(spark, str(tmp_path / "idem"))

    def fold(batch_id):
        return sorted(
            map(
                tuple,
                maintain_additive_rollup_idempotent(
                    store, "r", df, batch_id, keys=["k"], sum_cols=["v"]
                ).collect(),
            )
        )

    first = fold(0)
    replay = fold(0)  # redelivered micro-batch — must not double-count
    assert replay == first
    assert fold(0) == first  # and again
    second = fold(1)  # a NEW batch folds normally
    got = {r[0]: r for r in second}
    assert got["A"][1] == 2 and float(got["A"][2]) == 20.0
    # stale replay of an OLD batch after newer ones also skips
    assert fold(1) == second
    assert fold(0) == second
    # the bookkeeping column never leaks into returned state
    state = maintain_additive_rollup_idempotent(
        store, "r", df, 1, keys=["k"], sum_cols=["v"]
    )
    assert APPLIED_BATCH_COL not in state.columns


def test_applied_watermark_reads_stats_by_leaf_path_past_a_struct(
    spark, tmp_path
):
    """The applied-batch watermark comes from the parquet footer
    statistics of ``_applied_batch_id``. Statistics are per LEAF
    column, so a struct key ahead of it shifts the leaf index away
    from the top-level one: reading by the top-level index returns
    the statistics of ``v`` (999), and every later batch would then
    read as already applied and be skipped."""
    from fabric_claims_spark.operators.rollup import (
        applied_watermark,
        maintain_additive_rollup_idempotent,
    )

    store = TableStore(spark, str(tmp_path / "nested"))
    store.overwrite(
        "w",
        spark.createDataFrame(
            [((1, 2), 999, 3)],
            "k struct<a: long, b: long>, v long, _applied_batch_id long",
        ),
    )
    assert applied_watermark(store, "w") == 3

    df = spark.createDataFrame(
        [((1, 2), 999)], "k struct<a: long, b: long>, v long"
    )
    maintain_additive_rollup_idempotent(
        store, "r", df, 3, keys=["k"], sum_cols=["v"]
    )
    assert applied_watermark(store, "r") == 3
    state = maintain_additive_rollup_idempotent(
        store, "r", df, 4, keys=["k"], sum_cols=["v"]
    )
    assert [(r["n"], r["v"]) for r in state.collect()] == [(2, 1998)]


def test_versions_and_read_version_time_travel(spark, tmp_path):
    from fabric_claims_spark.sources.merge import TableStore

    store = TableStore(spark, str(tmp_path / "tt"))
    store.overwrite("t", spark.createDataFrame([(1, "a")], "k long, v string"))
    store.overwrite("t", spark.createDataFrame([(1, "b")], "k long, v string"))
    vs = store.versions("t")
    assert len(vs) == 2
    assert store.read_version("t", vs[0]).collect()[0]["v"] == "a"
    assert store.read_version("t", vs[1]).collect()[0]["v"] == "b"
    # current pointer reads the newest version
    assert store.read("t").collect()[0]["v"] == "b"
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        store.read_version("t", "v_nonexistent")


def test_table_diff_change_types(spark):
    from fabric_claims_spark.operators.cdc import table_diff

    old = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", None), (3, "c", 3.0), (4, "d", 4.0)],
        "k long, s string, x double",
    )
    new = spark.createDataFrame(
        [(2, "b", None), (3, "c2", 3.0), (4, "d", 9.0), (5, "e", 5.0)],
        "k long, s string, x double",
    )
    feed = {
        (r["k"], r["_change_type"]): (r["s"], r["x"])
        for r in table_diff(old, new, keys=["k"]).collect()
    }
    assert feed == {
        (1, "delete"): ("a", 1.0),
        (3, "update_preimage"): ("c", 3.0),
        (3, "update_postimage"): ("c2", 3.0),
        (4, "update_preimage"): ("d", 4.0),
        (4, "update_postimage"): ("d", 9.0),
        (5, "insert"): ("e", 5.0),
    }
    # null-safe: key 2's NULL x is NOT a change; schema mismatch raises
    import pytest as _pytest

    with _pytest.raises(ValueError):
        table_diff(old.drop("x"), new, keys=["k"])


def test_parquet_merge_schema_evolution_read(spark, tmp_path):
    """Schema drift across landed batches: a reader with mergeSchema
    must surface the union schema, old rows NULL-filling the new
    column — the append-compatible evolution contract the silver
    layer assumes (the breaking-change path goes through
    TableStore.overwrite's overwriteSchema instead)."""
    import pyspark.sql.functions as F

    base = str(tmp_path / "evolving")
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, name string"
    ).write.parquet(base + "/b1")
    spark.createDataFrame(
        [(3, "c", 9.5)], "id long, name string, score double"
    ).write.parquet(base + "/b2")

    merged = spark.read.option("mergeSchema", "true").parquet(
        base + "/b1", base + "/b2"
    )
    assert set(merged.columns) == {"id", "name", "score"}
    rows = {r["id"]: (r["name"], r["score"]) for r in merged.collect()}
    assert rows[1] == ("a", None) and rows[3] == ("c", 9.5)
    # and filters on the NEW column still push down over the union
    assert merged.where(F.col("score") > 9).count() == 1


def test_delete_keeps_null_condition_rows(spark, tmp_path):
    """SQL DELETE three-valued semantics: rows where the predicate
    evaluates to NULL are kept, not deleted — and the returned count
    equals exactly the TRUE-predicate rows."""
    import pyspark.sql.functions as F

    from fabric_claims_spark.sources.merge import TableStore

    store = TableStore(spark, str(tmp_path / "store"))
    store.overwrite(
        "t",
        spark.createDataFrame(
            [(1, 20.0), (2, None), (3, 5.0)], "id long, amt double"
        ),
    )
    n = store.delete("t", F.col("amt") > 15.0)
    assert n == 1
    left = {r["id"] for r in store.read("t").collect()}
    assert left == {2, 3}  # the NULL-amt row survives
