"""Job budgets: the store operations whose docstrings promise no Spark
job (footer reads, file listings, pyarrow I/O) are pinned at zero, and
a schema-compatible ``append`` at two (its schema read, then the
write). Job counts are deterministic where wall times are not, so a
change that adds a job to one of these paths fails here."""

import pyarrow as pa
import pytest

from fabric_claims_spark.operators.serving_index import (
    index_file_count,
    maybe_compact_index_table,
)
from fabric_claims_spark.sources.merge import TableStore


@pytest.fixture()
def store(spark, tmp_path):
    store = TableStore(spark, str(tmp_path / "wh"))
    # one file per append, each with a single-valued ``tok``
    for tok in ("a", "b", "c"):
        store.append(
            "t",
            spark.createDataFrame([(i, tok) for i in range(3)], "id int, tok string")
            .coalesce(1),
        )
    return store


def test_the_helper_counts_the_jobs_of_its_block(spark, count_jobs):
    with count_jobs() as none:
        pass
    with count_jobs() as some:
        spark.range(5).collect()
    assert none.n == 0
    assert some.n >= 1


def test_metadata_reads_start_no_job(store, count_jobs):
    with count_jobs() as jobs:
        assert store.count_rows("t") == 9
        assert store.file_count("t") == 3
        assert index_file_count(store, "t") == 3
        assert len(store.footer_stats("t", "tok")) == 3
        assert store.read_local("t").num_rows == 9
    assert jobs.n == 0


def test_driver_side_writes_start_no_job(store, count_jobs):
    with count_jobs() as jobs:
        assert store.prune_files_by_value("t", "tok", {"a", "b"}) == 3
        store.overwrite_local("small", pa.table({"k": [1, 2]}))
    assert jobs.n == 0
    assert store.count_rows("t") == 6
    assert store.count_rows("small") == 2


def test_compaction_below_its_threshold_starts_no_job(store, count_jobs):
    before = store._current_version("t")
    with count_jobs() as jobs:
        fc, fired = maybe_compact_index_table(
            store, "t", "t_commits", file_threshold=64
        )
    assert (fc, fired) == (3, False)
    assert jobs.n == 0
    assert store._current_version("t") == before


def test_append_takes_at_most_two_jobs(spark, store, count_jobs):
    batch = spark.createDataFrame([(9, "d")], "id int, tok string")
    with count_jobs() as jobs:
        store.append("t", batch)
    assert jobs.n <= 2
    assert store.count_rows("t") == 10
