"""The batch-stamped store step shared by the four incremental near-dup
stores (minhash, hamming and winnowing in ``operators.dedup``; IVF in
``operators.similarity.stores``).

Each store dedups an ARRIVING batch against every batch it has already
indexed — the near-dup generalisation of the reference's
arriving-data-vs-stored exact dedup (the INSERT IGNORE in
``dags/consumer_prices.py:70-80`` and the pre-write anti-join in
``dags/spark_job_1.py:81-93``). A family supplies only what is its
own (:class:`StoreFamily`): a featurizer, blocking keys, a verify
scorer and a score order. This module owns the contract:

* **Layout.** Every index table lives at ``store_dir/<table>/`` and is
  partitioned by ``batch_id``; each batch's best-earlier flags land in
  ``store_dir/flagged/batch_id=N``.
* **Era stamp.** A family that declares ``algo`` gets
  :func:`check_store_algo` on its first table, and ``monotonic`` adds
  :func:`check_store_batch_monotonic`. Both run in the writing step
  (:func:`run_store_step`), never in the side-effect-free plan builder.
* **Reads.** Every index read prunes to ``batch_id < N`` at planning
  time (PartitionFilters), so a redelivered or half-written current
  batch is excluded by directory pruning, not scanned and filtered.
* **Candidates.** Within-batch pairs (``id_a < id_b``) plus
  earlier-vs-batch pairs (``id_a != id_b`` — an id re-ingested later
  meets its indexed self and must never flag itself). Under the
  streaming contract the batch side is broadcast, so the index is
  scanned and never shuffled; ``broadcast_batch=False`` (run-sized
  batches) leaves the join strategy to AQE after a left-semi prune.
* **Latest wins.** Verification reads earlier rows for candidate ids
  only, and only each id's latest batch; an id present in this batch
  takes its current rows. Stale versions are candidate bait only.
  The candidate set is pinned and materialized first, so the planner
  sizes the candidate-id prune from real statistics: a micro-batch's
  ids broadcast into the index read, a hot-key blow-up plans a
  shuffle instead of a driver OOM.
* **Pick.** Each later id keeps its best earlier match (score order
  from the family, ties to the smallest earlier id).
* **Writes.** Flags first, then each index table (the first one
  last), each an OVERWRITE of batch N's own partitions. Re-running
  batch N (foreachBatch redelivery, or recovery after a crash at any
  point) rewrites exactly N's partitions from batches < N only, so
  the step is idempotent and crash-safe; the flag union over in-order
  batches equals the family's one-shot derivation, because keys and
  scores are per-pair deterministic.
* **Release.** Every persisted intermediate is released in a
  ``finally`` — a failing batch leaves nothing pinned — and only then
  are the flags read back from the flag store, so the returned frame
  never re-derives from a since-mutated index.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from crypto_data_pipeline_with_kafka_spark.catalog import local_relation


@dataclass(frozen=True)
class StoreBatch:
    """One arriving batch as its family featurized it (lazy frames)."""

    #: this batch's rows for each of ``StoreFamily.tables``, in order
    index: tuple[DataFrame, ...]
    #: this batch's verify rows (``id_col`` + the scorer's columns)
    base: DataFrame
    #: (id_a, *keys): the batch as the earlier side of a pair
    a: DataFrame
    #: (id_b, *keys): the batch as the later side of a pair
    b: DataFrame


@dataclass(frozen=True)
class StoreFamily:
    """What a store family supplies; everything else is the shared step."""

    id_col: str
    #: index tables under store_dir; the first carries the blocking keys
    tables: tuple[str, ...]
    #: the table whose latest earlier rows extend ``StoreBatch.base``
    base_table: str
    keys: tuple[str, ...]
    #: pin -> StoreBatch; ``pin(df)`` persists df until the step ends
    featurize: Callable[[Callable[[DataFrame], DataFrame]], StoreBatch]
    #: earlier rows of ``tables[0]`` -> (id_a, *keys)
    earlier_keys: Callable[[DataFrame], DataFrame]
    #: (candidates, base) -> (id_a, id_b, <score>)
    verify: Callable[[DataFrame, DataFrame], DataFrame]
    score: str
    descending: bool
    #: output name of the earlier id in the flag rows
    match_col: str
    #: latest earlier ``base_table`` rows -> base-shaped rows
    earlier_base: Callable[[DataFrame], DataFrame] = lambda rows: rows
    algo: str | None = None
    monotonic: bool = False
    broadcast_batch: bool = True
    #: partition columns of every index table below ``batch_id``
    sub_partitions: tuple[str, ...] = ()


def _read_earlier(spark: SparkSession, path: str, batch_id: int) -> DataFrame:
    # batch_id is a partition directory: the filter prunes at planning
    # time, so current-batch leftovers are never scanned
    return spark.read.parquet(path).filter(F.col("batch_id") < batch_id)


def store_flag_plan(
    spark: SparkSession,
    family: StoreFamily,
    store_dir: str,
    batch_id: int,
    pins: list,
) -> tuple[DataFrame, StoreBatch]:
    """Side-effect-free plan of one store step: the lazy flag frame and
    the featurized batch. Every relation it persists is appended to
    ``pins``; the caller releases them."""
    # local import: sources.sinks ← operators would be circular the other way
    from crypto_data_pipeline_with_kafka_spark.sources.sinks import target_exists

    def pin(df: DataFrame) -> DataFrame:
        df = df.persist()
        pins.append(df)
        return df

    batch = family.featurize(pin)
    idc, keys = family.id_col, list(family.keys)
    bcast = F.broadcast if family.broadcast_batch else (lambda df: df)
    cand = (
        batch.a.join(bcast(batch.b), keys)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    first = f"{store_dir}/{family.tables[0]}"
    have_store = target_exists(spark, first)
    if have_store:
        old_a = family.earlier_keys(
            _read_earlier(spark, first, batch_id).drop("batch_id")
        )
        if family.broadcast_batch:
            # the broadcast join against the batch keys IS the index prune
            hits = old_a.join(F.broadcast(batch.b), keys)
        else:
            hits = old_a.join(
                batch.b.select(*keys).distinct(), keys, "left_semi"
            ).join(batch.b, keys)
        cand = cand.unionByName(
            hits.filter(F.col("id_a") != F.col("id_b")).select("id_a", "id_b")
        )
    cand = pin(cand.distinct())

    base = batch.base
    if have_store:
        cand.count()  # materialized: the id prune below plans on real size
        ids_a = cand.select(F.col("id_a").alias(idc)).distinct()
        latest_w = Window.partitionBy(idc)
        latest = (
            _read_earlier(spark, f"{store_dir}/{family.base_table}", batch_id)
            .join(ids_a, idc, "left_semi")
            .join(base.select(idc), idc, "left_anti")
            .withColumn("_latest", F.max("batch_id").over(latest_w))
            .filter(F.col("batch_id") == F.col("_latest"))
            .drop("batch_id", "_latest")
        )
        base = base.unionByName(family.earlier_base(latest))

    score = F.col(family.score)
    w = Window.partitionBy("id_b").orderBy(
        score.desc() if family.descending else score.asc(), F.col("id_a").asc()
    )
    flagged = (
        family.verify(cand, base)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            F.col("id_b").alias(idc),
            F.col("id_a").alias(family.match_col),
            family.score,
        )
    )
    return flagged, batch


def run_store_step(
    spark: SparkSession, family: StoreFamily, store_dir: str, batch_id: int
) -> DataFrame:
    """Run one store step (see the module docstring) and return the
    batch's flag rows read back from the flag store."""
    first = f"{store_dir}/{family.tables[0]}"
    if family.monotonic:
        check_store_batch_monotonic(spark, first, batch_id)
    if family.algo is not None:
        check_store_algo(spark, store_dir, first, family.algo)
    flagged_path = f"{store_dir}/flagged/batch_id={batch_id}"
    pins: list = []
    try:
        flagged, batch = store_flag_plan(spark, family, store_dir, batch_id, pins)
        flagged.write.mode("overwrite").parquet(flagged_path)
        # the first table lands last: its existence gates every earlier
        # read, so a crash between table writes never exposes a store
        # whose other tables are missing
        for table, rows in reversed(list(zip(family.tables, batch.index))):
            rows.write.mode("overwrite").partitionBy(
                *family.sub_partitions
            ).parquet(f"{store_dir}/{table}/batch_id={batch_id}")
    finally:
        for df in pins:
            df.unpersist()
    return spark.read.parquet(flagged_path)


def check_store_batch_monotonic(spark, table_path: str, batch_id: int) -> None:
    """Refuse a DECREASING batch id against an incremental store table
    partitioned by ``batch_id``: re-running the store's NEWEST id is
    the legitimate redelivery/crash-recovery rewrite (== max allowed),
    but an id BELOW the newest silently overwrites an older run's
    partition while newer runs' postings keep matching the dead
    content — corruption, not idempotence. The newest batch comes from
    the PARTITION LISTING (metadata only — no Spark job, no store
    scan); connect sessions (no py4j) fall back to the one-column read.

    Wired for the winnowing store (``monotonic=True``), so every caller
    of it gets the refusal. The minhash/hamming/IVF siblings document
    tolerated out-of-order ARRIVAL (flag orientation follows arrival
    order), so the hard refusal is not wired there."""
    from crypto_data_pipeline_with_kafka_spark.sources.sinks import target_exists

    if not target_exists(spark, table_path):
        return
    jvm = getattr(spark, "_jvm", None)
    if jvm is not None:
        from crypto_data_pipeline_with_kafka_spark.warehouse import _HadoopFs

        names = [
            st.getPath().getName()
            for st in _HadoopFs(spark, table_path).list_status(table_path)
        ]
        ids = [
            int(n.split("=", 1)[1])
            for n in names
            if n.startswith("batch_id=")
        ]
        max_existing = max(ids) if ids else None
    else:
        max_existing = (
            spark.read.parquet(table_path).agg(F.max("batch_id")).first()[0]
        )
    if max_existing is not None and batch_id < max_existing:
        raise ValueError(
            f"batch_id {batch_id} < the store's newest batch "
            f"{max_existing} at {table_path}: batch ids must not "
            "decrease — reusing an old id overwrites that run's "
            "partition (re-running the LATEST id is fine; that is the "
            "redelivery contract)"
        )


def check_store_algo(
    spark, store_dir: str, table_path: str, algo: str
) -> None:
    """Refuse a fingerprint-ALGORITHM era mix against an incremental
    store (the manifest ``digest_algo`` idiom applied to the store
    family): a store's indexed fingerprints are only comparable to a
    batch's if both came from the same bit rule with the same
    fingerprint-shaping parameters — after an algorithm change (e.g.
    the r8 audio silence-trim) the identical content hashes
    differently, so near-dups are silently MISSED rather than erroring.
    The stamp is a one-row parquet marker at ``store_dir/algo``:
    written on the store's first stamped batch, required equal on
    every later one. A NON-EMPTY index with no marker is a
    pre-versioning-era store — refused too (its era is unknowable;
    rebuild it, or keep calling without a stamp and own the risk).
    ``table_path`` is the store's index table (existence = non-empty
    store)."""
    from pyspark.errors import AnalysisException

    from crypto_data_pipeline_with_kafka_spark.sources.sinks import target_exists

    marker = f"{store_dir}/algo"
    # read the marker DIRECTLY and classify the failure (no existence
    # probe first: under Spark Connect target_exists itself raises on
    # a crashed-marker dir, before any healing code could run). Absent
    # path and a dir with no committed rows — the crashed first-stamp
    # write (only the first stamped batch ever writes it; both
    # pre-versioning-index paths raise BEFORE writing) — both read as
    # "no stamp", so redelivery self-heals; anything else (transient
    # IO, permissions, corrupt footer) PROPAGATES, the target_exists
    # rule — swallowing it would misread a healthy stamped store as
    # pre-versioning and tell the operator to rebuild it
    stored = None
    try:
        row = spark.read.parquet(marker).first()
        stored = row[0] if row is not None else None
    except AnalysisException as e:
        from crypto_data_pipeline_with_kafka_spark.sources.sinks import (
            analysis_error_matches,
        )

        if not analysis_error_matches(
            e, "PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"
        ):
            raise
    if stored is not None:
        if stored != algo:
            raise ValueError(
                f"store at {store_dir} holds fingerprints of algorithm "
                f"era {stored!r} but this batch was hashed with "
                f"{algo!r}: mixed eras silently MISS near-dups (same "
                "content, different bits) — rebuild the store under the "
                "new algorithm, or hash with the stored era's rule"
            )
        return
    if target_exists(spark, table_path):
        raise ValueError(
            f"store at {store_dir} has an index but no algorithm stamp "
            f"(pre-versioning era) while this batch declares {algo!r}: "
            "the stored fingerprints' era is unknowable — rebuild the "
            "store under the new stamp (only direct hamming callers, "
            "which expose algo=, can instead keep the unstamped "
            "contract; the winnow store and curate_corpus gates always "
            "stamp)"
        )
    local_relation(spark, [(algo,)], "algo string").coalesce(1).write.mode(
        "overwrite"
    ).parquet(marker)
