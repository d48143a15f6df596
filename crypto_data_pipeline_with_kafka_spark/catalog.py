"""Fixture-table catalog.

The driver materializes deterministic Parquet tables under
``/root/testdata/sf{0.001,0.01,0.1}``; these play the roles of the
reference's MySQL star schemas and Kafka topics (see SURVEY.md §5).
Parquet is the engine's default source: columnar, with predicate pushdown
and column pruning reaching the scan (check ``PushedFilters`` /
``ReadSchema`` in ``.explain``). At 100 TB these tables would be
partitioned by date/key; the loaders keep that orthogonal.
"""

from __future__ import annotations

import os
from collections.abc import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# Timestamp columns that have shipped in two parquet layouts across
# fixture generations: TIMESTAMP(NANOS) (Spark 4 rejects outright;
# under spark.sql.legacy.parquet.nanosAsLong they read as epoch-ns
# longs, truncated — not rounded — to µs, matching DuckDB's read of the
# same file) and plain TIMESTAMP(MICROS) (reads as TIMESTAMP_NTZ).
# Both are normalized to the session-local TimestampType in UTC so every
# downstream plan and oracle sees one schema regardless of generation.
_TS_COLS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown fixture table {name!r}; have {TABLES}")
    # Query semantics are defined in UTC; pin it even when the calling
    # session (the driver builds its own) didn't — otherwise collected
    # timestamps would shift against the timezone-naive DuckDB oracle.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ts_cols = _TS_COLS.get(name, ())
    if ts_cols:
        # runtime-settable; done here so the driver's own SparkSession
        # (which we don't construct) also reads ns-layout files.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(table_path(sf_dir, name))
    for c in ts_cols:
        dtype = df.schema[c].dataType
        if isinstance(dtype, T.LongType):  # ns layout via nanosAsLong
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
        elif isinstance(dtype, T.TimestampNTZType):  # µs layout
            # NTZ → session-local; with the session pinned to UTC this
            # is a pure re-tag (identical epoch micros).
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def widen_if_narrow(df: DataFrame, *key_cols: str) -> DataFrame:
    """Raise map-side parallelism when a scan is narrower than the
    cluster. CPU-heavy per-row operators (shingle md5, simhash packing,
    cosine folds) inherit the scan's partitioning, and a small parquet
    table arrives as ONE split (``spark.sql.files.maxPartitionBytes``
    is far above the file size) — serializing megabytes of hash work on
    a 32-core executor. When the plan's partition count is below the
    cluster's ``defaultParallelism``, hash-repartition on ``key_cols``
    up to it; hash (not round-robin) partitioning reproduces the same
    layout under task retry, so downstream results stay deterministic.

    Scale behavior: at 100 TB every scan already carries thousands of
    splits, the condition is false, and this is a pure no-op — the
    extra shuffle exists ONLY in the narrow-scan regime where the data
    is small (cheap to move) and the CPU work is the bottleneck.

    CALLER CONTRACT: pass SCAN-ROOTED frames only. The width probe is
    ``df.inputFiles()`` plus driver-side FileStatus stats — a pure
    metadata read (no job, no AQE stage materialization), but it
    describes the SCAN, so on a derived relation it would measure the
    wrong node. Operators that widen a derived relation must opt out
    (see the ``widen=`` parameter on the similarity base builders).
    Pass ``key_cols`` whenever anything downstream is sensitive to row
    placement: hash partitioning reproduces the layout under task
    retry, while the keyless fallback is round-robin (fine only
    immediately ahead of a shuffle that re-keys anyway, e.g. a
    groupBy). Streaming frames pass through untouched (their
    parallelism is the source's to decide), as do Spark Connect frames
    (no driver-side JVM access there — widening is an optimization,
    not a semantic)."""
    if df.isStreaming:
        return df
    try:
        target = df.sparkSession.sparkContext.defaultParallelism
        # A frame the caller just repartitioned has a layout of its own
        # choosing — honor it. Checked on the analyzed plan's ROOT node
        # name (df.repartition(...) puts Repartition/
        # RepartitionByExpression at the root), never by substring over
        # the stringified plan — a relation or column whose NAME
        # contains "Repartition" must not disable widening.
        root = df._jdf.queryExecution().analyzed().nodeName()
        if root in ("Repartition", "RepartitionByExpression"):
            return df
        splits = _estimated_scan_splits(df)
        narrow = splits is not None and splits < target
    except Exception:  # Spark Connect: no sparkContext / JVM — skip
        return df
    if not narrow:
        return df
    return df.repartition(target, *key_cols) if key_cols else df.repartition(target)


def _estimated_scan_splits(df: DataFrame) -> int | None:
    """Job-free estimate of a file scan's split count, replaying
    Spark's own planning rule: ``maxSplitBytes = min(maxPartitionBytes,
    max(openCostInBytes, (Σ(size + openCost)) / defaultParallelism))``
    and splits ≈ ceil(paddedTotal / maxSplitBytes) — so neither a few
    large splittable parquet files (which Spark fans out toward cluster
    width) nor many tiny files (which it bin-packs together) are
    mis-read. Sizes come from driver-side ``FileSystem.getFileStatus``
    (one metadata RPC per file, any Hadoop FS), and the stat fan-out is
    bounded: it only runs when the file count is already below the
    cluster width. Returns ``None`` for non-file sources (empty
    ``inputFiles`` — e.g. JDBC or in-memory relations), telling the
    caller to leave the frame alone; a caller that widens such sources
    repartitions explicitly."""
    files = df.inputFiles()
    if not files:
        return None
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if len(files) >= target:
        return len(files)
    jvm = sc._jvm
    hconf = sc._jsc.hadoopConfiguration()
    as_bytes = jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes
    conf = df.sparkSession.conf
    max_bytes = as_bytes(
        conf.get("spark.sql.files.maxPartitionBytes", "128m")
    )
    open_cost = as_bytes(conf.get("spark.sql.files.openCostInBytes", "4m"))
    total = 0
    for f in files:
        path = jvm.org.apache.hadoop.fs.Path(f)
        total += (
            path.getFileSystem(hconf).getFileStatus(path).getLen()
            + open_cost
        )
    max_split = min(
        max(1, max_bytes), max(1, open_cost, total // max(1, target))
    )
    return max(1, -(-total // max_split))


def local_relation(
    spark: SparkSession, rows: Iterable[Sequence], schema: str | T.StructType
) -> DataFrame:
    """A small literal relation (a dim, a rule list, an empty leg) built
    on the driver: ``rows`` are tuples in ``schema`` order (a DDL string
    or a ``StructType``). It goes to the JVM as one Arrow table, which
    Spark plans as a ``LocalRelation``: a known-size leaf that needs no
    Python worker to scan. ``spark.createDataFrame(<list>)`` would plan
    a ``LogicalRDD`` over a PythonRDD instead, and every scan of it
    sends ``defaultParallelism`` tasks through Python workers. Column
    types, nullability and values equal those of
    ``spark.createDataFrame(rows, schema)``, with or without
    ``spark.sql.execution.arrow.pyspark.enabled``. Every literal
    relation in the engine goes through here (a test walks the package
    for stray ``createDataFrame`` calls)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = schema if isinstance(schema, T.StructType) else T.StructType.fromDDL(schema)
    arrow = to_arrow_schema(struct)
    rows = list(rows)
    table = pa.Table.from_arrays(
        [pa.array([r[i] for r in rows], type=f.type) for i, f in enumerate(arrow)],
        schema=arrow,
    )
    return spark.createDataFrame(table, struct)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view (for the SQL API)."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
