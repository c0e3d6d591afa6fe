"""Z-order (Morton) data layout for multi-dimensional scan pruning.

At 100 TB the cheapest query is the one that never reads the file:
parquet row-group/file pruning uses per-file min/max statistics, which
only help when the data is CLUSTERED on the filtered columns. Sorting
by one column destroys locality on the others; interleaving the bits
of several columns (the Z-order / Morton curve — the same layout
Delta's OPTIMIZE ZORDER BY builds) gives every interleaved column
partial locality, so a selective predicate on ANY of them skips most
files [Morton 1966; the multidimensional-index treatment in Samet,
"Foundations of Multidimensional Data Structures"].

Pieces:

* ``zorder_key(cols, bits)`` — the interleaved key as a pure Spark
  column expression (shift/mask/or, whole-stage codegen; no UDF). The
  inputs must already be non-negative ints in [0, 2^bits); use
  ``rank_normalize`` for arbitrary domains.
* ``rank_normalize(df, col, bits)`` — map an arbitrary orderable
  column onto [0, 2^bits) via quantile cut points computed from a
  bounded sample (``approxQuantile`` on the driver over 2^bits
  probabilities — cut points are tiny; the data never leaves
  executors).
* ``write_zordered(df, path, cols, bits)`` — range-partition by the
  z-key and sort within partitions before writing, so each parquet
  file covers a compact z-range ⇒ compact per-file min/max boxes on
  every interleaved column.

The layout benefit is verified in tests/test_layout.py by reading
parquet footer min/max stats with pyarrow and counting how many files
a 2-D box predicate can prune under z-order vs a single-column sort.

Scale notes: the z-key is a projection (no shuffle); the write pays
ONE range-partition shuffle — the same cost as any sorted write — and
reads pay nothing (pruning happens in the scan planner). Rank
normalization adds one approxQuantile pass, amortized over every
future scan of the table.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def zorder_key(cols: list[str | Column], bits: int = 16) -> Column:
    """Interleave the low ``bits`` bits of each column round-robin
    (column 0 gets the least-significant position). Inputs must be
    non-negative integers < 2^bits; the result fits in a signed 64-bit
    long (len(cols)·bits <= 63)."""
    n = len(cols)
    if n < 2:
        raise ValueError("zorder needs at least 2 columns")
    if n * bits > 63:
        raise ValueError(f"{n} cols x {bits} bits exceeds a signed long")
    cs = [F.col(c) if isinstance(c, str) else c for c in cols]
    z = F.lit(0).cast("long")
    for b in range(bits):
        for i, c in enumerate(cs):
            bit = F.shiftright(c.cast("long"), b).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(
                F.shiftleft(bit, b * n + i)
            )
    return z


def zorder_key_sql(cols: list[str], bits: int = 16) -> str:
    """The same interleave as ``zorder_key`` as an ANSI SQL expression
    (DuckDB-compatible) — the oracle twin for gate checks."""
    terms = []
    for b in range(bits):
        for i, c in enumerate(cols):
            terms.append(
                f"((({c} >> {b}) & 1) << {b * len(cols) + i})"
            )
    return "(" + " | ".join(terms) + ")"


def rank_normalize(df: DataFrame, col: str, bits: int = 8) -> Column:
    """A column expression mapping ``col`` onto [0, 2^bits) by its
    quantile bucket. Cut points come from one ``approxQuantile`` pass
    (driver holds 2^bits doubles — bounded regardless of table size);
    the mapping itself is a broadcast-range lookup via ``width_bucket``
    semantics expressed as a searchsorted over the cut array.

    ``bits`` defaults to 8 to match ``write_zordered``: 255 cut
    points is what approxQuantile's rank error can actually resolve,
    and the per-row fold is O(2^bits) — at bits=16 adjacent cut
    points collapse into duplicates (skewed buckets) while the plan
    folds a 65k-literal array per row. Raise ``relative_error`` down
    alongside bits if a finer curve is truly needed."""
    n_buckets = 1 << bits
    qs = [i / n_buckets for i in range(1, n_buckets)]
    cuts = df.approxQuantile(col, qs, min(0.001, 0.25 / n_buckets))
    arr = F.array(*[F.lit(float(c)) for c in cuts])
    # number of cut points <= value == bucket index in [0, 2^bits)
    return F.aggregate(
        arr,
        F.lit(0).cast("long"),
        lambda acc, cut: acc
        + F.when(F.col(col).cast("double") >= cut, 1).otherwise(0),
    )


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    bits: int = 8,
    num_files: int | None = None,
) -> None:
    """Write ``df`` as parquet clustered on the Z-curve over ``cols``
    (columns must already be non-negative ints < 2^bits — apply
    ``rank_normalize`` upstream for arbitrary domains)."""
    z = df.withColumn("_z", zorder_key(cols, bits))
    n = num_files or df.sparkSession.sparkContext.defaultParallelism
    (
        z.repartitionByRange(n, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )


def compact_parquet_dir(
    spark: SparkSession,
    src_dir: str,
    dst_dir: str,
    target_file_mb: int = 128,
    sort_within_by: list[str] | None = None,
) -> int:
    """Small-files compaction — the table-maintenance pass every
    streaming/incremental sink eventually needs: a directory that has
    accreted thousands of tiny parquet files (one per micro-batch /
    task) rewrites into ceil(bytes / target) right-sized files.

    Sizing uses the SOURCE byte size (cheap file-status scan, no data
    read) rather than row counts, so the target tracks the actual
    storage amplification problem. An optional ``sort_within_by``
    re-establishes clustering during the rewrite (pair with
    ``write_zordered`` for multi-dim layouts). The rewrite itself is
    one coalesce-or-shuffle: ``coalesce`` when shrinking file count
    (no shuffle at all — the 100 TB-friendly path), ``repartition``
    only if the source is under-parallel.

    Returns the output file count. Write-then-swap is the caller's
    concern (TableStore.overwrite gives the atomic pointer swap).
    """
    import math
    import os

    total = 0
    for root, _dirs, files in os.walk(src_dir):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, f))
    n_out = max(1, math.ceil(total / (target_file_mb * 1024 * 1024)))

    df = spark.read.parquet(src_dir)
    n_src = df.rdd.getNumPartitions()
    out = df.coalesce(n_out) if n_src >= n_out else df.repartition(n_out)
    if sort_within_by:
        out = out.sortWithinPartitions(*sort_within_by)
    out.write.mode("overwrite").parquet(dst_dir)

    return sum(
        1
        for _root, _dirs, files in os.walk(dst_dir)
        for f in files
        if f.endswith(".parquet")
    )


# ---------------------------------------------------------------------------
# Bloom-filter sidecar index: per-file membership filters for point /
# IN-list lookups on a column min/max stats can't prune (high-churn
# ids scattered across every file's value range). Each data file gets
# an m-bit, k-hash bloom bitmap persisted in ONE tiny sidecar parquet
# beside the table; a probe ANDs the key's k bit positions against
# each file's bitmap and reads only the files that might contain it —
# the pattern behind Delta/Iceberg bloom file skipping, built from
# plain DataFrame ops (bit positions via xxhash64, bitmaps via
# grouped bitwise-OR aggregation; no UDF, no driver loop over rows).
#
# Scale notes (100 TB): the index build is one linear pass with a
# map-side-combinable aggregate (state = files x m/64 longs, tiny);
# the sidecar is KBs per thousand files and broadcast at probe time;
# false positives cost an extra file read, never a wrong result
# (probe returns a superset of matching files).
_BLOOM_WORDS = 64  # m = 64*64 = 4096 bits per file


def _bloom_positions(key: Column, k: int) -> list[Column]:
    m = _BLOOM_WORDS * 64
    return [
        F.pmod(F.xxhash64(key.cast("string"), F.lit(i)), F.lit(m))
        for i in range(k)
    ]


def _bloom_bitmaps(files: DataFrame, key_col: str, k: int) -> DataFrame:
    """(file, bitmap) — one word-indexed bloom bitmap per input file of
    ``files``, the rows ``build_bloom_sidecar`` writes and
    ``update_bloom_sidecar`` appends."""
    keyed = files.select(
        F.input_file_name().alias("file"), F.col(key_col).alias("key")
    )
    pos = F.explode(F.array(*_bloom_positions(F.col("key"), k))).alias("pos")
    bits = keyed.select("file", pos).select(
        "file",
        (F.col("pos") / 64).cast("int").alias("word"),
        # F.shiftleft takes a Python-int bit count; a per-row bit
        # count needs the SQL form (same trap as events_ewma_daily)
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").alias(
            "bit"
        ),
    )
    # bitmap: per (file, word) OR of bits, then per file a dense
    # word-indexed array — both aggregates map-side combinable
    words = bits.groupBy("file", "word").agg(F.bit_or("bit").alias("wordval"))
    return words.groupBy("file").agg(
        F.map_from_arrays(
            F.collect_list("word"), F.collect_list("wordval")
        ).alias("bitmap")
    )


def build_bloom_sidecar(
    spark,
    table_dir: str,
    key_col: str,
    k: int = 5,
    sidecar_name: str = "_bloom_sidecar",
) -> str:
    """Scan ``table_dir`` once and write a per-file bloom bitmap
    sidecar for ``key_col``. Returns the sidecar path."""
    import os

    out = os.path.join(table_dir, sidecar_name)
    _bloom_bitmaps(spark.read.parquet(table_dir), key_col, k).coalesce(
        1
    ).write.mode("overwrite").parquet(out)
    return out


def bloom_probe_files(
    spark,
    table_dir: str,
    key_value,
    key_col: str,
    k: int = 5,
    sidecar_name: str = "_bloom_sidecar",
) -> list[str]:
    """Files that MIGHT contain ``key_value`` (superset semantics):
    a file qualifies iff ALL k bit positions are set in its bitmap."""
    import os

    side = spark.read.parquet(os.path.join(table_dir, sidecar_name))
    # evaluate the key's k bit positions once (1-row JVM projection —
    # the probe must hash EXACTLY as the build did), then test them
    # as plain int literals against each file's bitmap
    pos_row = (
        spark.range(1)
        .select(
            *[
                p.alias(f"p{i}")
                for i, p in enumerate(
                    _bloom_positions(F.lit(key_value), k)
                )
            ]
        )
        .first()
    )
    cond = F.lit(True)
    for i in range(k):
        p = int(pos_row[f"p{i}"])
        s = p % 64
        # JVM shiftleft(1L, 63) wraps to Long.MIN_VALUE; mirror the
        # two's-complement value or the top-bit probe never matches
        word, bit = p // 64, (1 << s) if s < 63 else -(1 << 63)
        cond = cond & F.coalesce(
            F.element_at(F.col("bitmap"), F.lit(word)).bitwiseAND(
                F.lit(bit)
            )
            != 0,
            F.lit(False),
        )
    return [r["file"] for r in side.where(cond).select("file").collect()]


def bloom_pruned_read(
    spark,
    table_dir: str,
    key_value,
    key_col: str,
    k: int = 5,
    sidecar_name: str = "_bloom_sidecar",
):
    """Point-lookup read that opens only bloom-qualified files, then
    applies the exact predicate (false positives filtered here)."""
    files = bloom_probe_files(
        spark, table_dir, key_value, key_col, k, sidecar_name
    )
    if not files:
        base = spark.read.parquet(table_dir)
        return base.where(F.lit(False))
    return (
        spark.read.parquet(*files).where(F.col(key_col) == F.lit(key_value))
    )


# ---------------------------------------------------------------------------
# Min/max file-stats pruning — the range-predicate twin of the bloom
# sidecar: parquet already persists per-column min/max in every file
# footer, so a range scan only needs to OPEN the files whose
# [min, max] box intersects the predicate. Spark's scan does this at
# ROW-GROUP granularity once a file is opened; this helper prunes at
# the FILE-LIST level first (footer reads are metadata-sized,
# driver-side via pyarrow — the same information Delta keeps in its
# transaction log as stats), which is what saves the cloud-storage
# round-trips at 100 TB. Correct only with a clustered layout
# (write_zordered / repartitionByRange) — on random layout every box
# intersects and nothing prunes, which the helper reports honestly.
def stats_prune_files(
    table_dir: str, col: str, lo, hi
) -> tuple[list[str], int]:
    """Files whose [min, max] for ``col`` intersects [lo, hi].
    Returns (qualifying files, total files). Footer-only reads."""
    import os

    import pyarrow.parquet as pq

    keep, total = [], 0
    for fname in sorted(os.listdir(table_dir)):
        if not fname.endswith(".parquet") or fname.startswith("_"):
            continue
        path = os.path.join(table_dir, fname)
        total += 1
        md = pq.ParquetFile(path).metadata
        idx = md.schema.names.index(col)
        fmin = fmax = None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if st is None or not st.has_min_max:
                fmin = None  # unknown stats → cannot prune this file
                break
            fmin = st.min if fmin is None or st.min < fmin else fmin
            fmax = st.max if fmax is None or st.max > fmax else fmax
        if fmin is None or (fmax >= lo and fmin <= hi):
            keep.append(path)
    return keep, total


def stats_pruned_read(spark, table_dir: str, col: str, lo, hi):
    """Range read that opens only stats-qualified files, then applies
    the exact predicate (files with unknown stats are read, never
    skipped — superset semantics, same contract as the bloom probe)."""
    files, _ = stats_prune_files(table_dir, col, lo, hi)
    if not files:
        return spark.read.parquet(table_dir).where(F.lit(False))
    return spark.read.parquet(*files).where(
        (F.col(col) >= F.lit(lo)) & (F.col(col) <= F.lit(hi))
    )


def update_bloom_sidecar(
    spark,
    table_dir: str,
    key_col: str,
    k: int = 5,
    sidecar_name: str = "_bloom_sidecar",
) -> int:
    """Incremental index maintenance — the production shape: hash ONLY
    files not yet in the sidecar (a streaming/append table indexes
    each micro-batch's files once, never rescans history) and append
    their bitmaps. Returns the number of newly indexed files.
    Existing entries are never touched, so a crash mid-update at
    worst leaves some new files unindexed — and an unindexed file is
    simply not prunable, never wrongly skipped, because the probe
    side (``bloom_probe_files``) consults the sidecar for
    candidates... which means the CALLER must treat files absent from
    the sidecar as always-qualifying; ``bloom_pruned_read_safe``
    below does exactly that."""
    import os

    side_path = os.path.join(table_dir, sidecar_name)
    have: set[str] = set()
    if os.path.isdir(side_path):
        have = {
            r["file"]
            for r in spark.read.parquet(side_path).select("file").collect()
        }
    all_files = {
        "file:" + os.path.join(table_dir, f)
        for f in os.listdir(table_dir)
        if f.endswith(".parquet") and not f.startswith("_")
    }
    # input_file_name() URIs: normalize by suffix match
    def indexed(path: str) -> bool:
        base = os.path.basename(path)
        return any(h.endswith("/" + base) for h in have)

    new_files = [p.replace("file:", "") for p in sorted(all_files)
                 if not indexed(p)]
    if not new_files:
        return 0
    _bloom_bitmaps(spark.read.parquet(*new_files), key_col, k).coalesce(
        1
    ).write.mode("append").parquet(side_path)
    return len(new_files)


def bloom_pruned_read_safe(
    spark,
    table_dir: str,
    key_value,
    key_col: str,
    k: int = 5,
    sidecar_name: str = "_bloom_sidecar",
):
    """Point lookup that treats files ABSENT from the sidecar as
    always-qualifying (the lag window between a file landing and its
    index entry must widen the read, never lose rows)."""
    import os

    qualified = set(
        bloom_probe_files(
            spark, table_dir, key_value, key_col, k, sidecar_name
        )
    )
    side_path = os.path.join(table_dir, sidecar_name)
    have = {
        os.path.basename(r["file"])
        for r in spark.read.parquet(side_path).select("file").collect()
    }
    files = [
        os.path.join(table_dir, f)
        for f in os.listdir(table_dir)
        if f.endswith(".parquet")
        and not f.startswith("_")
        and (
            f not in have  # unindexed — must read
            or any(q.endswith("/" + f) for q in qualified)
        )
    ]
    if not files:
        return spark.read.parquet(table_dir).where(F.lit(False))
    return spark.read.parquet(*files).where(
        F.col(key_col) == F.lit(key_value)
    )
