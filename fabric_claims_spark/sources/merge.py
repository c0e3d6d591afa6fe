"""Merge-capable table storage: Delta when importable, otherwise a
versioned-parquet fallback with the same MERGE semantics.

The reference upserts through two engines — Delta MERGE in notebooks
(NBclaims_bronze.Notebook/notebook-content.py:234-240) and a T-SQL
stored procedure with null-safe change detection
(sp_upsert_claims.sql:12-103). This module gives both behaviors one
interface:

* ``merge`` = whenMatchedUpdateAll (optionally only when a non-key
  column actually differs, null-safely — the SP's
  ``ISNULL(t.c,'') <> ISNULL(s.c,'')`` gate) + whenNotMatchedInsertAll.
* Writes are atomic. On the parquet fallback every write — overwrite,
  append, delete, merge, compact, prune and the driver-side
  ``overwrite_local`` — ends in ``TableStore._commit``, the only code
  that creates a table version: it allocates a nanosecond-stamped
  version id, creates the version directory, runs the write into it,
  hardlinks the carried files of the current version in, then swaps
  the one-line ``_CURRENT`` pointer file with ``os.replace`` and
  vacuums. Readers of the old version are never disturbed (same
  contract as Delta's log-pointer commit), and the version's data
  files are listed in one place, ``TableStore._files``.

At 100 TB this class is constructed with ``prefer_delta=True`` on a
cluster with delta-spark installed and every call maps 1:1 onto Delta
APIs; the parquet fallback exists so the engine is runnable anywhere.
"""

from __future__ import annotations

import os
import shutil
import time
import uuid
from collections.abc import Callable, Iterable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

try:  # pragma: no cover - exercised only where delta-spark is installed
    from delta.tables import DeltaTable  # type: ignore

    _HAS_DELTA = True
except ImportError:
    DeltaTable = None
    _HAS_DELTA = False

_CURRENT = "_CURRENT"
_KEEP_VERSIONS = 3


def _new_version_id() -> str:
    """A version dir name that sorts lexicographically in commit order:
    mtime alone ties on coarse-granularity filesystems, which would
    let ``versions()`` return old/new in arbitrary order and invert a
    CDC diff built on ``versions()[-2:]``."""
    return f"v_{time.time_ns():020d}_{uuid.uuid4().hex[:6]}"


def _flat(files: list[str]) -> bool:
    """No data file (``TableStore._files`` path) sits in a partition
    directory."""
    return not any(os.sep in f for f in files)


def _partition_col(files: list[str]) -> str | None:
    """The column a version is laid out on: every data file
    (``TableStore._files`` path) sits one ``col=value`` directory
    deep, with the same ``col``. ``None`` for a flat, nested, mixed or
    empty layout."""
    cols = {
        parts[0].split("=", 1)[0] if len(parts) == 2 and "=" in parts[0] else None
        for parts in (f.split(os.sep) for f in files)
    }
    return cols.pop() if len(cols) == 1 else None


@dataclass
class MergeStats:
    """Parity with the SP's @@ROWCOUNT accounting (sp_upsert_claims.sql:105-113)."""

    inserted: int
    updated: int

    @property
    def written(self) -> int:
        return self.inserted + self.updated


class TableStore:
    """A warehouse root holding named tables with atomic overwrite,
    append, and MERGE."""

    def __init__(self, spark: SparkSession, root: str, prefer_delta: bool = False):
        self.spark = spark
        self.root = root
        self.use_delta = prefer_delta and _HAS_DELTA
        os.makedirs(root, exist_ok=True)

    # -- path helpers -----------------------------------------------------
    def _dir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _pointer(self, name: str) -> str:
        return os.path.join(self._dir(name), _CURRENT)

    def _current_version(self, name: str) -> str | None:
        try:
            with open(self._pointer(name)) as f:
                return f.read().strip()
        except FileNotFoundError:
            return None

    # -- public API -------------------------------------------------------
    def exists(self, name: str) -> bool:
        """Guarded-create check (spark.catalog.tableExists analog,
        NB_BRONZE:234)."""
        if self.use_delta:
            return DeltaTable.isDeltaTable(self.spark, self._dir(name))
        return self._current_version(name) is not None

    def read(self, name: str) -> DataFrame:
        if self.use_delta:
            return self.spark.read.format("delta").load(self._dir(name))
        version = self._current_version(name)
        if version is None:
            raise FileNotFoundError(f"table {name} does not exist under {self.root}")
        return self.spark.read.parquet(os.path.join(self._dir(name), version))

    def versions(self, name: str) -> list[str]:
        """Retained version ids, oldest → newest (current last) — the
        time-travel index. Parquet mode orders the ``_vacuum``-retained
        version dirs by the nanosecond commit stamp embedded in each
        id (mtime fallback for legacy random-hex ids); Delta mode
        lists the commit history.
        """
        if self.use_delta:
            hist = (
                DeltaTable.forPath(self.spark, self._dir(name))
                .history()
                .select("version")
                .collect()
            )
            return [str(r["version"]) for r in sorted(hist, key=lambda r: r["version"])]
        table_dir = self._dir(name)
        if self._current_version(name) is None:
            raise FileNotFoundError(f"table {name} does not exist under {self.root}")

        def _order(d: str) -> tuple[float, str]:
            # primary: the nanosecond commit stamp embedded in the id
            # (exact, monotonic); legacy random-hex ids fall back to
            # mtime, tie-broken by name for determinism
            part = d.split("_")[1] if "_" in d else ""
            if part.isdigit():
                return (float(part), d)
            try:
                return (os.stat(os.path.join(table_dir, d)).st_mtime * 1e9, d)
            except OSError:
                return (0.0, d)

        return sorted(
            (d for d in os.listdir(table_dir) if d.startswith("v_")),
            key=_order,
        )

    def read_version(self, name: str, version: str) -> DataFrame:
        """Time-travel read of a retained version (Delta ``versionAsOf``
        analog). Raises if the version was vacuumed."""
        if self.use_delta:
            return (
                self.spark.read.format("delta")
                .option("versionAsOf", version)
                .load(self._dir(name))
            )
        path = os.path.join(self._dir(name), version)
        if not os.path.isdir(path):
            raise FileNotFoundError(
                f"version {version} of table {name} is not retained"
            )
        return self.spark.read.parquet(path)

    def overwrite(self, name: str, df: DataFrame) -> None:
        """S9 — overwrite sink incl. schema change (NB_BRONZE:243-248)."""
        if self.use_delta:
            (
                df.write.format("delta")
                .mode("overwrite")
                .option("overwriteSchema", "true")
                .save(self._dir(name))
            )
            return
        self._commit(name, self._writer(name, df))

    # -- driver-side metadata I/O ------------------------------------------
    #
    # Commit/watermark tables are BOUNDED metadata (one row per batch).
    # Reading or rewriting them through a Spark job pays full job
    # scheduling for a few hundred bytes; Delta itself keeps this class
    # of state in driver-written log files for the same reason. On the
    # parquet store these two methods move such tables through pyarrow
    # on the driver under the identical version-dir + pointer-swap
    # commit, so readers (and Spark, which reads the same parquet)
    # observe nothing different. On Delta they go through Spark, so
    # callers keep one code path for both backends. Callers own the
    # "this table is bounded" claim — data tables keep going through
    # Spark.

    def read_local(self, name: str):
        """Current version of a small table as one pyarrow Table —
        no Spark job on the parquet store; Delta collects it through
        Spark (``toArrow``)."""
        if self.use_delta:
            return self.read(name).toArrow()
        import pyarrow as pa
        import pyarrow.parquet as pq

        vdir, files = self._files(name)
        if not files or not _flat(files):
            raise FileNotFoundError(
                f"table {name} holds no flat data files in {vdir}"
            )
        parts = [pq.read_table(os.path.join(vdir, f)) for f in files]
        return pa.concat_tables(parts, promote_options="default")

    def overwrite_local(self, name: str, table) -> None:
        """Atomic overwrite of a small table from a pyarrow Table —
        on the parquet store one data file, no Spark job, same
        ``_commit`` as every Spark write; Delta overwrites through
        Spark (``createDataFrame``)."""
        if self.use_delta:
            self.overwrite(name, self.spark.createDataFrame(table))
            return
        import pyarrow.parquet as pq

        self._commit(
            name,
            lambda d: pq.write_table(
                table, os.path.join(d, "part-00000-local.parquet")
            ),
        )

    def count_rows(self, name: str) -> int:
        """Exact row count of the CURRENT version from parquet footer
        metadata — driver-side, no Spark job (round 13, guide §1.2/§5:
        a count() action on a just-written table pays full job
        scheduling for a number the files' footers already hold).
        Delta stores take the Spark path (their files aren't ours to
        enumerate)."""
        if self.use_delta:
            return self.read(name).count()
        import pyarrow.parquet as pq

        vdir, files = self._files(name)
        return sum(
            pq.ParquetFile(os.path.join(vdir, f)).metadata.num_rows
            for f in files
        )

    def file_count(self, name: str) -> int:
        """Data files in the CURRENT version. On the parquet store a
        listing of ``_files`` — driver-side, no Spark job (a
        ``read(name).inputFiles()`` pays a schema-inference job). Delta
        stores count their snapshot's files through ``inputFiles``."""
        if self.use_delta:
            return len(self.read(name).inputFiles())
        return len(self._files(name)[1])

    def footer_stats(
        self, name: str, column: str
    ) -> dict[str, list[tuple[int, object]]] | None:
        """``column``'s parquet footer statistics in the current
        version, read driver-side: ``{data file path: [(rows,
        statistics) per row group]}``. Statistics are per LEAF column,
        so ``column`` is resolved by its leaf path — a struct ahead of
        it shifts the leaf index away from the top-level arrow index.
        Returns ``None`` when flat footers cannot answer: Delta store,
        missing table, partitioned layout, or a file without
        ``column``."""
        if self.use_delta or self._current_version(name) is None:
            return None
        import pyarrow.parquet as pq

        vdir, files = self._files(name)
        if not _flat(files):
            return None  # partitioned layout: not flat-file decidable
        out: dict[str, list[tuple[int, object]]] = {}
        for fname in files:
            path = os.path.join(vdir, fname)
            meta = pq.ParquetFile(path).metadata
            leaves = [meta.schema.column(i).path for i in range(meta.num_columns)]
            if column not in leaves:
                return None
            idx = leaves.index(column)
            groups = [meta.row_group(g) for g in range(meta.num_row_groups)]
            out[path] = [(g.num_rows, g.column(idx).statistics) for g in groups]
        return out

    def prune_files_by_value(
        self, name: str, column: str, keep_values: set[str]
    ) -> int | None:
        """File-level prune (round 14, guide §1.2/§6): drop every data
        file whose ``column`` is a single constant NOT in
        ``keep_values``, by hardlinking only the kept files into a new
        version — driver-side, zero Spark jobs. Exact because append
        files carry one commit token each (the writer stamps a
        constant per append), so the parquet footer's min==max
        statistics decide a whole file.

        Returns the number of rows removed (0 = nothing to drop, no
        version churn). Returns ``None`` when the decision is not
        safely file-level — Delta store, partitioned layout, a file
        with multiple values / missing stats / nulls in ``column``, or
        every file dropping (an empty version needs a schema-carrying
        write) — and the caller falls back to the row-level path."""
        stats = self.footer_stats(name, column)
        if stats is None:
            return None
        kept: list[str] = []
        removed = 0
        for path, groups in stats.items():
            values: set[str] = set()
            for _rows, st in groups:
                if (
                    st is None
                    or not st.has_min_max
                    or st.null_count is None
                    or st.null_count > 0
                    or st.min != st.max
                ):
                    return None
                values.add(st.min)
            if len(values) != 1:
                return None
            if next(iter(values)) in keep_values:
                kept.append(path)
            else:
                removed += sum(rows for rows, _st in groups)
        if removed == 0:
            return 0
        if not kept:
            return None  # empty result needs a schema-carrying write
        self._commit(name, carry=[os.path.basename(p) for p in kept])
        return removed

    def append(self, name: str, df: DataFrame) -> None:
        """S8 — append sink (NB_BRONZE:221-223). Delta appends are
        O(batch). The parquet fallback is ALSO O(batch) when the batch
        schema matches the stored schema (the steady-state case): only
        the batch's rows are written into the new version directory,
        and the current version's data files are hardlinked in beside
        them — same atomic pointer-swap commit, no read or rewrite of
        existing data. Schema-evolving appends (new/missing/retyped
        columns) take the read+union+commit path, which is O(table) —
        rare by construction (a schema change is a migration event)."""
        if self.use_delta:
            df.write.format("delta").mode("append").save(self._dir(name))
            return
        if self.exists(name):
            current = self.read(name)
            # Parquet reads surface every field nullable, so nullability
            # is not part of the compatibility check; ORDER matters only
            # for the write (all files in a version carry one layout),
            # so a column-permuted batch is realigned, not slow-pathed.
            cur_fields = [(f.name, f.dataType) for f in current.schema.fields]
            new_fields = {(f.name, f.dataType) for f in df.schema.fields}
            _, files = self._files(name)
            if (
                _flat(files)
                and len(df.schema.fields) == len(cur_fields)
                and set(cur_fields) == new_fields
            ):
                self._commit(
                    name,
                    self._writer(name, df.select([n for n, _ in cur_fields])),
                    carry=files,
                )
                return
            df = current.unionByName(df, allowMissingColumns=True)
        self._commit(name, self._writer(name, df))

    def delete(self, name: str, condition: Column) -> int:
        """DELETE WHERE ``condition`` — the erasure sink (GDPR/CCPA
        right-to-be-forgotten, retention enforcement). Returns the
        number of rows removed.

        Delta: a native metadata DELETE (file-level rewrite of only
        the touched files). Fallback: anti-filter + version commit —
        atomic via the same pointer swap as every other write, and
        the pre-delete version remains readable through
        ``read_version`` until vacuumed (the audit trail an erasure
        workflow needs: provable before/after).
        """
        if not self.exists(name):
            return 0
        if self.use_delta:
            from delta.tables import DeltaTable

            t = DeltaTable.forPath(self.spark, self._dir(name))
            try:
                v0 = t.history(1).select("version").first()[0]
            except Exception:  # odd/empty history: no pre-version pin
                v0 = None
            t.delete(condition)
            # Pin OUR DELETE commit: the EARLIEST DELETE commit newer
            # than the pre-delete version observed above. Both
            # history(1) and max(version) race concurrent writers —
            # in particular a concurrent DELETE committed after ours
            # wins max(version), and versionAsOf dv-1 would then read
            # a post-our-delete snapshot and silently mis-count the
            # erasure. min(version > v0) identifies ours as tightly as
            # the history API allows without a transaction id.
            hist = t.history().where(F.col("operation") == "DELETE")
            if v0 is not None:
                hist = hist.where(F.col("version") > F.lit(int(v0)))
            ours = (
                hist.orderBy("version")
                .select("version", "operationMetrics")
                .first()
            )
            if ours is None:
                raise RuntimeError(
                    f"cannot pin DELETE commit for {name!r}: no DELETE "
                    f"newer than version {v0} in history"
                )
            metrics = ours["operationMetrics"] or {}
            if "numDeletedRows" in metrics:
                # the commit records the count — a metadata read, not
                # two full-table scans
                return int(metrics["numDeletedRows"])
            # metrics shape varies across Delta versions — recount the
            # predicate against the snapshot immediately before OUR
            # pinned commit via time travel. Never surface a negative
            # flag value: erasure audit rows consume this verbatim.
            dv = int(ours["version"])
            if dv < 1:
                raise RuntimeError(
                    f"cannot pin pre-delete snapshot for {name!r}: "
                    f"DELETE commit {dv} has no predecessor"
                )
            prev = (
                self.spark.read.format("delta")
                .option("versionAsOf", dv - 1)
                .load(self._dir(name))
            )
            return prev.where(condition.eqNullSafe(F.lit(True))).count()
        current = self.read(name)
        # SQL DELETE semantics: remove rows where the condition is
        # TRUE; NULL-condition rows are KEPT (three-valued logic —
        # plain ~condition would silently drop them AND exclude them
        # from the returned count, diverging from the Delta branch).
        is_hit = condition.eqNullSafe(F.lit(True))
        hits = current.where(is_hit).count()
        if hits == 0:
            return 0
        self._commit(name, self._writer(name, current.where(~is_hit)))
        return hits

    def merge(
        self,
        name: str,
        source: DataFrame,
        keys: list[str],
        update_only_changed: bool = True,
        compare_cols: list[str] | None = None,
        partition_col: str | None = None,
    ) -> MergeStats:
        """S10/J2/J3/P10 — MERGE upsert keyed on ``keys``.

        ``update_only_changed`` reproduces the SP's no-op-update
        elimination: a matched row is rewritten only when some non-key
        column differs null-safely (sp_upsert_claims.sql:19-20).
        ``compare_cols`` restricts that diff to business columns so
        run-metadata stamps (ModifiedDate, ProcessBatchID) don't force
        rewrites of semantically-unchanged rows.

        ``partition_col`` enables partition-pruned merges: the table
        is laid out hive-style on that column, the target side of the
        join reads ONLY partitions present in the source batch, and
        untouched partitions carry into the new version as hardlinks
        (no data movement). This is the 100 TB path — a daily batch
        touching 3 of 3,000 date partitions rewrites ~0.1% of the
        table. Requires the merge key to imply the partition (a key
        never moves partitions), which holds for date-keyed facts. A
        current version not laid out on ``partition_col`` (a plain
        merge, an append, another column) is merged whole and re-laid
        out partitioned by this commit.
        """
        if not self.exists(name):
            if partition_col and not self.use_delta:
                self._commit(name, self._writer(name, source, partition_col))
            else:
                self.overwrite(name, source)
            # inserted == rows just written: read it from the new
            # version's parquet footers instead of re-running the
            # source plan for a count (round 14, guide §1.2 — for a
            # DISTINCT-shaped staging source that count re-paid the
            # whole aggregate). Delta keeps the source count.
            n = source.count() if self.use_delta else self.count_rows(name)
            return MergeStats(inserted=n, updated=0)

        target = self.read(name)
        non_keys = [
            c
            for c in (compare_cols if compare_cols is not None else source.columns)
            if c not in keys
        ]

        if self.use_delta:
            cond = " AND ".join(f"t.{k} <=> s.{k}" for k in keys)
            dt = DeltaTable.forPath(self.spark, self._dir(name))
            builder = dt.alias("t").merge(source.alias("s"), cond)
            if update_only_changed and non_keys:
                changed = " OR ".join(f"NOT (t.{c} <=> s.{c})" for c in non_keys)
                builder = builder.whenMatchedUpdateAll(condition=changed)
            else:
                builder = builder.whenMatchedUpdateAll()
            builder.whenNotMatchedInsertAll().execute()
            # Delta returns operation metrics via history(); fallback
            # computes them directly — keep one accounting path:
            hist = dt.history(1).select("operationMetrics").first()[0]
            return MergeStats(
                inserted=int(hist.get("numTargetRowsInserted", 0)),
                updated=int(hist.get("numTargetRowsUpdated", 0)),
            )

        carry: list[str] = []
        if partition_col:
            vdir, files = self._files(name)
            if _partition_col(files) == partition_col:
                # slice the target to the batch's partitions. isin() is
                # null-unsafe: a null partition value in the source
                # would slice out NO target rows, yet Spark writes its
                # data under __HIVE_DEFAULT_PARTITION__ — the old null
                # partition must be read-merged, not carried.
                affected = [
                    r[0] for r in source.select(partition_col).distinct().collect()
                ]
                non_null = [v for v in affected if v is not None]
                slice_cond = F.col(partition_col).isin(non_null)
                if len(non_null) < len(affected):
                    slice_cond = slice_cond | F.col(partition_col).isNull()
                target = target.where(slice_cond)
                # every partition file and its checksum sidecar; the
                # partitions the write produces replace theirs
                crc = [
                    os.path.join(os.path.dirname(f), f".{os.path.basename(f)}.crc")
                    for f in files
                ]
                carry = files + [c for c in crc if os.path.exists(os.path.join(vdir, c))]

        # --- ONE full-outer join resolves the merge ---------------------
        # (what Delta's MERGE does physically): target-only rows pass
        # through, matched-but-unchanged keep the target version
        # (preserves CreatedDate-style stamps), matched-and-changed and
        # source-only rows take the source version. Counts come from
        # the same cached join — no extra count-joins.
        t = target.withColumn("_t", F.lit(True)).alias("t")
        s = source.withColumn("_s", F.lit(True)).alias("s")
        key_cond = [F.col(f"t.{k}").eqNullSafe(F.col(f"s.{k}")) for k in keys]
        j = t.join(s, key_cond, "full_outer").cache()

        t_present = F.col("t._t").isNotNull()
        s_present = F.col("s._s").isNotNull()
        if update_only_changed and non_keys:
            diff = F.lit(False)
            for c in non_keys:
                diff = diff | ~F.col(f"t.{c}").eqNullSafe(F.col(f"s.{c}"))
        else:
            diff = F.lit(True)

        counts = j.agg(
            F.sum((s_present & ~t_present).cast("long")).alias("ins"),
            F.sum((s_present & t_present & diff).cast("long")).alias("upd"),
        ).first()
        inserted, updated = int(counts["ins"] or 0), int(counts["upd"] or 0)

        take_source = s_present & (~t_present | diff)
        out_cols = [
            F.when(take_source, F.col(f"s.{c}"))
            .otherwise(F.col(f"t.{c}"))
            .alias(c)
            if c not in keys
            else F.coalesce(F.col(f"s.{c}"), F.col(f"t.{c}")).alias(c)
            for c in source.columns
        ]
        merged = j.select(out_cols)
        self._commit(name, self._writer(name, merged, partition_col), carry=carry)
        j.unpersist()
        return MergeStats(inserted=inserted, updated=updated)

    def compact(self, name: str, target_partitions: int | None = None) -> int:
        """OPTIMIZE analog: rewrite the table into few large files
        (append-heavy tables accrete small files; scans then pay
        per-file open cost). Returns the resulting partition count.
        A parquet version laid out on a partition column keeps that
        layout, so later partition-pruned merges still prune. With
        Delta this maps to OPTIMIZE/auto-compaction."""
        if target_partitions is None:
            # ~128 MB files: estimate from the current file count
            target_partitions = max(1, self.file_count(name) // 8)
        df = self.read(name).coalesce(target_partitions)
        if self.use_delta:
            self.overwrite(name, df)
        else:
            _, files = self._files(name)
            self._commit(name, self._writer(name, df, _partition_col(files)))
        return target_partitions

    # -- the one commit path --------------------------------------------------
    def _files(self, name: str) -> tuple[str, list[str]]:
        """The current version's directory and its data files as
        sorted paths relative to it (``part=v/file`` when partitioned)
        — only what the writers emit: a ``_``/``.``-prefixed marker or
        checksum, or a stray temp file from an interrupted write, is
        never a data file."""
        version = self._current_version(name)
        if version is None:
            raise FileNotFoundError(f"table {name} does not exist under {self.root}")
        vdir = os.path.join(self._dir(name), version)
        files = [
            os.path.relpath(os.path.join(dirpath, f), vdir)
            for dirpath, _dirs, names in os.walk(vdir)
            for f in names
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        ]
        return vdir, sorted(files)

    def _writer(
        self, name: str, df: DataFrame, partition_by: str | None = None
    ) -> Callable[[str], None]:
        """A ``_commit`` write step: Spark writes ``df`` as parquet,
        labelled with its table (guide §1.5) so store writes are
        attributable in the UI/REST without guessing."""

        def write(path: str) -> None:
            writer = df.write.mode("overwrite")
            if partition_by:
                writer = writer.partitionBy(partition_by)
            sc = self.spark.sparkContext
            prev = sc.getLocalProperty("spark.job.description")
            sc.setJobDescription(f"tablestore write: {name}")
            try:
                writer.parquet(path)
            finally:
                sc.setJobDescription(prev)

        return write

    def _commit(
        self,
        name: str,
        write: Callable[[str], None] | None = None,
        carry: Iterable[str] = (),
    ) -> None:
        """Create a new version of ``name`` and make it current — the
        only code that does. In order: allocate the ns-stamped version
        id, create its directory, run ``write(new_dir)``, hardlink each
        ``carry`` path (relative to the current version) into the same
        place, swap the ``_CURRENT`` pointer, vacuum. Hardlinks move no
        data, and part filenames embed a per-write-job UUID, so names
        from different commits never collide; a carried path under a
        top-level entry the write produced (a partition the write
        rewrote) is not linked — the write wins."""
        table_dir = self._dir(name)
        cur_dir = os.path.join(table_dir, self._current_version(name) or "")
        version = _new_version_id()
        new_dir = os.path.join(table_dir, version)
        os.makedirs(new_dir)
        if write is not None:
            write(new_dir)
        written = set(os.listdir(new_dir))
        for rel in carry:
            if rel.split(os.sep)[0] in written:
                continue
            dst = os.path.join(new_dir, rel)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            os.link(os.path.join(cur_dir, rel), dst)
        tmp_ptr = os.path.join(table_dir, f".{_CURRENT}.{uuid.uuid4().hex[:6]}")
        with open(tmp_ptr, "w") as f:
            f.write(version)
        os.replace(tmp_ptr, self._pointer(name))  # atomic commit
        self._vacuum(name, keep=version)

    def _vacuum(self, name: str, keep: str) -> None:
        """Prune old version dirs, keeping ``keep`` and the newest
        ``_KEEP_VERSIONS`` others for readers mid-scan (Delta vacuum
        analog, drastically simplified). "Newest" in ``versions()``
        order: the embedded commit stamp, mtime for legacy ids."""
        stale = [v for v in self.versions(name) if v != keep]
        for v in stale[:-_KEEP_VERSIONS]:
            shutil.rmtree(os.path.join(self._dir(name), v), ignore_errors=True)
