"""Warehouse layout: the 100-TB storage design the fixtures stand in
for (SURVEY §4 'Partition pruning' and the §7 scale stance).

The reference keeps one unpartitioned MySQL fact
(``datawarehouse/kline_dim_fact.sql``) and re-reads ALL of it every run.
The engine's layout: Parquet facts **partitioned by event date** (and by
symbol/interval for the kline-shaped tables), so

* time-range predicates prune partitions at planning time,
* the join-side of a dim filter prunes dynamically (DPP),
* incremental jobs touch only the affected date partitions,
* idempotent appends anti-join only the overlapping partitions.

At 100 TB with ~daily partitions this bounds every incremental run to
O(day) instead of O(history); partition count stays in the thousands
(healthy for the driver's file index). These writers are exercised by
tests on tmp dirs — the driver's fixture files themselves are read-only.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_events_warehouse(events: DataFrame, path: str) -> None:
    """Events fact partitioned by event date: `dt=YYYY-MM-DD/` dirs.
    Sort within partitions by (user_id, ts) so per-key scans are
    sequential and min/max column stats stay tight."""
    (
        events.withColumn("dt", F.date_format("ts", "yyyy-MM-dd"))
        .repartition("dt")
        .sortWithinPartitions("user_id", "ts")
        .write.mode("overwrite")
        .partitionBy("dt")
        .parquet(path)
    )


def read_events_range(
    spark: SparkSession, path: str, start_date: str, end_date: str
) -> DataFrame:
    """Time-range read: the `dt` predicate prunes partition directories
    before any file is opened (verify via PartitionFilters in explain)."""
    return spark.read.parquet(path).filter(
        (F.col("dt") >= start_date) & (F.col("dt") < end_date)
    )


class _HadoopFs:
    """The one place this package touches Hadoop FileSystem through
    py4j private handles (``sc._jsc`` / ``sc._jvm``) — standard
    practice for driver-side FS metadata work, but a private surface
    that can shift across Spark majors, so it is fenced here (verified
    against pyspark 4.x; if an upgrade breaks it, only this class
    changes). Hadoop's FileSystem API signals most failures by
    RETURNING FALSE rather than raising, so every mutation here checks
    the boolean and raises — a silently-failed rename is how a
    partition "loses" its data."""

    def __init__(self, spark: SparkSession, path: str):
        sc = spark.sparkContext
        self._jvm = sc._jvm
        self.fs = self._jvm.org.apache.hadoop.fs.Path(path).getFileSystem(
            sc._jsc.hadoopConfiguration()
        )

    def path(self, p: str):
        return self._jvm.org.apache.hadoop.fs.Path(p)

    def exists(self, p: str) -> bool:
        return self.fs.exists(self.path(p))

    def list_status(self, p: str):
        return self.fs.listStatus(self.path(p))

    def delete(self, p: str) -> None:
        if not self.fs.delete(self.path(p), True):
            raise OSError(f"hadoop fs delete returned false for {p}")

    def rename(self, src: str, dst: str) -> None:
        if not self.fs.rename(self.path(src), self.path(dst)):
            raise OSError(f"hadoop fs rename returned false: {src} -> {dst}")

    def touch(self, p: str) -> None:
        # create() raises on failure (unlike the boolean-returning ops)
        self.fs.create(self.path(p), True).close()

    # Crash-safe directory swap. Plain filesystems have no atomic
    # directory swap, so each live dir ``root/<name>`` is replaced by
    # its fully written sibling ``root/.<tag>_<name>`` as
    # ``live → .<tag>_backup_<name>``, ``staged → live``, then the
    # backups are deleted. A crash leaves a window of metadata ops that
    # :meth:`recover_swap` repairs. When more than one directory swaps,
    # the dirs must land together (e.g. cells and the centroids that
    # place them), so a commit marker ``root/.<tag>_commit`` is written
    # before the first rename: with it, recovery rolls every dir
    # FORWARD; without it, staged dirs are unfinished writes.

    @staticmethod
    def swap_paths(root: str, name: str, tag: str) -> tuple[str, str, str]:
        """(live, staged, backup) paths of ``name`` under ``root``."""
        return (
            f"{root}/{name}",
            f"{root}/.{tag}_{name}",
            f"{root}/.{tag}_backup_{name}",
        )

    def swap(self, root: str, names: Sequence[str], tag: str) -> None:
        """Swap each staged dir into its live place (see above)."""
        marker = f"{root}/.{tag}_commit" if len(names) > 1 else None
        if marker is not None:
            # point of no return: every staged dir is complete
            self.touch(marker)
        for name in names:
            live, staged, backup = self.swap_paths(root, name, tag)
            self.rename(live, backup)
            self.rename(staged, live)
        for name in names:
            self.delete(self.swap_paths(root, name, tag)[2])
        if marker is not None:
            self.delete(marker)

    def recover_swap(self, root: str, names: Sequence[str], tag: str) -> None:
        """Repair a :meth:`swap` interrupted at any point; a no-op on a
        clean root, so callers run it before every swap."""
        marker = f"{root}/.{tag}_commit"
        if len(names) > 1 and self.exists(marker):
            for name in names:
                live, staged, backup = self.swap_paths(root, name, tag)
                if self.exists(staged):
                    # this dir's swap had not (fully) happened: advance it
                    if self.exists(live):
                        if self.exists(backup):
                            self.delete(backup)
                        self.rename(live, backup)
                    self.rename(staged, live)
                if self.exists(backup):
                    self.delete(backup)
            self.delete(marker)
            return
        for name in names:
            live, staged, backup = self.swap_paths(root, name, tag)
            if self.exists(backup):
                if self.exists(live):
                    # crashed after the swap, before the sweep
                    self.delete(backup)
                else:
                    # crashed between the renames: the backup is the
                    # only copy — restore it
                    self.rename(backup, live)
            if self.exists(staged):
                # unfinished stage: the live dir is intact
                self.delete(staged)


def compact_partitions(
    spark: SparkSession,
    path: str,
    partitions: list[str] | None = None,
    target_file_bytes: int = 128 * 1024 * 1024,
    sort_cols: tuple[str, ...] = (),
    max_parallel: int = 1,
    partition_col: str = "dt",
) -> dict[str, int]:
    """Small-file compaction for a directory-partitioned store — the
    maintenance job every streaming sink needs at scale: per-batch
    appends (foreachBatch idempotent writers, late-data rewrites)
    accrete many small files per partition, degrading scan throughput
    and file-index size. For each selected partition this rewrites the
    data as ``ceil(bytes / target_file_bytes)`` files (optionally
    re-sorted so min/max stats tighten again). ``partition_col``
    defaults to the warehouse's ``dt`` layout; pass ``"batch_id"`` to
    maintain the FLAT incremental-store tables (minhash bands/shingles,
    hamming hashes, flagged dirs — compact only batches no redelivery
    can still rewrite, i.e. older than the streaming checkpoint's
    committed epoch — the same past-the-late-window contract as
    dates). NESTED layouts are refused at runtime: the IVF ``cells``
    store is ``batch_id=N/centroid_id=C/`` and a flat rewrite of a
    batch dir would destroy the centroid directory level
    (``retrain_ivf_store`` IS that store's compaction — its layout
    exchange rewrites every partition to one file).

    Swap protocol: the rewrite is staged to a hidden sibling dir and
    swapped in with ``_HadoopFs.swap`` (backup-rename, every Hadoop
    boolean checked); ``_HadoopFs.recover_swap`` runs first on every
    partition, so a crash at any point is repaired by the next run — a
    partition whose only copy is an orphaned backup is restored before
    it is compacted. Concurrent READERS can see a partition briefly
    absent during the swap window — run compaction when no
    reader/writer races it (the same contract real table formats
    attach to maintenance), and compact ONLY partitions no writer can
    still append to (e.g. dates older than the watermark + late
    window). Idempotent and safe to re-run. Returns {dt: files_written}.

    Scale shape: driver work is one directory listing per selected
    partition (file sizes come from the FS metadata, no data read on
    the driver); each partition rewrite is an independent distributed
    job touching exactly that partition's files. ``max_parallel > 1``
    runs that many partition rewrites concurrently from driver threads
    (Spark schedules jobs from multiple threads fine; partitions are
    disjoint directories, so the swaps cannot race each other) —
    size it so `max_parallel × files-per-rewrite` tasks keep the
    cluster busy without starving other jobs."""
    import math

    hfs = _HadoopFs(spark, path)
    live_prefix = f"{partition_col}="
    backup_prefix = _HadoopFs.swap_paths("", live_prefix, "compact")[2][1:]
    if partitions is None:
        # Discovery must ALSO surface partitions whose only copy is an
        # orphaned backup (crash between the two renames left no live
        # dir) — otherwise the promised automatic recovery never runs
        # for exactly the partitions that need it most.
        found: set[str] = set()
        for st in hfs.list_status(path):
            name = st.getPath().getName()
            if st.isDirectory() and name.startswith(live_prefix):
                found.add(name.split("=", 1)[1])
            elif st.isDirectory() and name.startswith(backup_prefix):
                found.add(name.split("=", 1)[1])
        partitions = sorted(found)

    def compact_one(dt: str) -> int | None:
        name = f"{partition_col}={dt}"
        hfs.recover_swap(path, [name], "compact")
        pdir, staged, _ = hfs.swap_paths(path, name, "compact")
        if not hfs.exists(pdir):
            return None
        files = [
            st
            for st in hfs.list_status(pdir)
            if not st.getPath().getName().startswith("_")
        ]
        nested = [st.getPath().getName() for st in files if st.isDirectory()]
        if nested:
            # a sub-partitioned layout (e.g. IVF cells' centroid_id
            # level): a flat rewrite would read the subdirs as a
            # partition column and write it back as a DATA column,
            # silently destroying planning-time pruning — refuse loudly
            raise ValueError(
                f"{pdir} contains nested partition dirs {nested[:3]} — "
                "compact_partitions only handles flat partitions; for "
                "the IVF cells store use retrain_ivf_store (its "
                "re-assignment pass rewrites the full layout)"
            )
        total = sum(st.getLen() for st in files)
        n_out = max(1, math.ceil(total / target_file_bytes))
        if n_out >= len(files):
            return None  # already compact
        part = spark.read.parquet(pdir).coalesce(n_out)
        if sort_cols:
            part = part.sortWithinPartitions(*sort_cols)
        part.write.mode("overwrite").parquet(staged)
        hfs.swap(path, [name], "compact")
        return n_out

    if max_parallel <= 1:
        results = [(dt, compact_one(dt)) for dt in partitions]
    else:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=max_parallel) as pool:
            results = list(zip(partitions, pool.map(compact_one, partitions)))
    return {dt: n for dt, n in results if n is not None}


def profile_columns(df: DataFrame, approx_rsd: float = 0.05) -> DataFrame:
    """Per-column data profile in ONE corpus pass — the table-health
    check an operator runs before pointing a 100-TB job at a dataset
    (null explosions, cardinality surprises, out-of-range values).

    Returns one row per column: (column, dtype, n_rows, n_nulls,
    null_frac, approx_distinct, min_str, max_str, mean — NULL for
    non-numerics). All statistics come from a single groupless
    aggregation (every aggregate is algebraic/sketch-mergeable →
    map-side partial agg; one exchange of ONE row per partition), then
    unpivot via ``stack`` — the same no-shuffle generate as the
    indicator pipeline. approx_count_distinct is the HLL sketch (rsd
    ``approx_rsd``): exact count_distinct per column would be one
    shuffle of every distinct value PER COLUMN — the profile trades
    bounded error for a single cheap pass, the right trade at scale
    (exact twins exist: ``agg_count_distinct``). min/max are rendered
    to strings so heterogeneous column types share one output schema
    (complex types — arrays/structs/maps/binary — profile null/distinct
    only; their min/max and mean are NULL)."""
    import pyspark.sql.types as T

    n = F.count(F.lit(1))
    aggs: list = [n.alias("_n")]
    stack_args: list[str] = []
    # agg aliases are INDEX-based and column-name literals are escaped:
    # names are caller data (think ingested CSV headers with quotes or
    # backticks), never safe to splice raw into a SQL expression
    for i, f in enumerate(df.schema.fields):
        c, dt = f.name, f.dataType
        orderable = not isinstance(
            dt, (T.ArrayType, T.MapType, T.StructType, T.BinaryType)
        )
        numeric = isinstance(dt, T.NumericType)
        # standard identifier quoting: backticks doubled inside backticks
        # (df[c] / bare F.col both route through the dotted-path parser,
        # which chokes on stray quotes/backticks in real header names)
        col = F.col("`" + c.replace("`", "``") + "`")
        aggs.append(F.sum(col.isNull().cast("long")).alias(f"_nn_{i}"))
        aggs.append(
            F.approx_count_distinct(col, rsd=approx_rsd).alias(f"_ad_{i}")
        )
        aggs.append(
            (F.min(col).cast("string") if orderable else F.lit(None).cast("string")).alias(f"_mn_{i}")
        )
        aggs.append(
            (F.max(col).cast("string") if orderable else F.lit(None).cast("string")).alias(f"_mx_{i}")
        )
        aggs.append(
            (F.avg(col.cast("double")) if numeric else F.lit(None).cast("double")).alias(f"_av_{i}")
        )
        lit_name = c.replace("\\", "\\\\").replace("'", "\\'")
        stack_args.append(
            f"'{lit_name}', '{dt.simpleString()}', _nn_{i}, _ad_{i}, "
            f"_mn_{i}, _mx_{i}, _av_{i}"
        )
    one = df.agg(*aggs)
    stacked = one.select(
        F.col("_n").alias("n_rows"),
        F.expr(
            "stack({k}, {args}) as (column, dtype, n_nulls, approx_distinct, "
            "min_str, max_str, mean)".format(
                k=len(stack_args), args=", ".join(stack_args)
            )
        ),
    )
    return stacked.select(
        "column",
        "dtype",
        "n_rows",
        "n_nulls",
        (F.col("n_nulls") / F.greatest(F.col("n_rows"), F.lit(1))).alias(
            "null_frac"
        ),
        "approx_distinct",
        "min_str",
        "max_str",
        "mean",
    )
