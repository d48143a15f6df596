"""IVF / IVF-PQ index persistence: save/load, incremental update,
retrain-and-swap migration with recovery. Split out of the single
similarity module in r11 (mechanical move, no behavior change)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crypto_data_pipeline_with_kafka_spark.operators._store_step import (
    StoreBatch,
    StoreFamily,
    run_store_step,
)

from crypto_data_pipeline_with_kafka_spark.operators.similarity.base import (
    cosine_for_pairs,
    dbl_vector,
    with_dbl_and_approx_norm,
)
from crypto_data_pipeline_with_kafka_spark.operators.similarity.ivf import (
    _seed_centroids,
    ivf_assignments,
    lloyd_refined_centroids,
    resolve_num_centroids,
)
from crypto_data_pipeline_with_kafka_spark.operators.similarity.pq import (
    _codes_expr,
    _packed_codebooks,
    pq_encode,
)

# ------------------------------------------------- IVF index persistence


def save_ivf_index(centroids: DataFrame, assignments: DataFrame, path: str) -> None:
    """Persist a trained IVF index for reuse across query batches,
    sessions, and jobs — the train-once/query-forever deployment shape
    ``ivf_topk``'s docstring promises. Two-table parquet layout:
    ``centroids/`` (centroid_id, cvec) and ``assignments/`` (id,
    probe_rank) PARTITIONED BY centroid_id — a serve-time read of one
    probed cell's inverted list prunes to that cell's directory
    (PartitionFilters, plan-tested), which is exactly the IVF access
    pattern. Overwrite mode, so re-training is idempotent.

    At 100 TB the assignments table is one row per corpus vector per
    probe; partition count = num_centroids (tuned ∝ sqrt(corpus)),
    each a sequential columnar read. The centroid table is O(C) and
    broadcastable on load."""
    centroids.write.mode("overwrite").parquet(f"{path}/centroids")
    (
        assignments.write.mode("overwrite")
        .partitionBy("centroid_id")
        .parquet(f"{path}/assignments")
    )


def load_ivf_index(spark, path: str) -> tuple[DataFrame, DataFrame]:
    """Read back ``(centroids, assignments)`` written by
    :func:`save_ivf_index`, ready to pass into ``ivf_topk``/
    ``ivf_ann_pairs`` via their ``centroids=``/``assignments=`` hooks.
    The partition-discovered ``centroid_id`` is cast back to the
    writer-side int so joins/filters line up typed."""
    cents = spark.read.parquet(f"{path}/centroids")
    assigns = spark.read.parquet(f"{path}/assignments").withColumn(
        "centroid_id", F.col("centroid_id").cast("int")
    )
    return cents, assigns


def incremental_ivf_update(
    new_vectors: DataFrame,
    store_dir: str,
    batch_id: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    min_cosine: float = 0.8,
    probes: int = 1,
    pq_codebooks: DataFrame | None = None,
) -> DataFrame:
    """Index an ARRIVING embedding batch against a persisted IVF store
    and flag each new vector's best earlier near-duplicate — the dense
    twin of ``operators.dedup.incremental_minhash_dedup`` (same
    operational shape: a 100-TB corpus is never re-indexed from
    scratch; new data joins a persisted index).

    ``probes`` is the recall knob, applied ASYMMETRICALLY the way IVF
    serving does: every vector is INDEXED at its single primary cell
    (the store layout never multiplies), while the ARRIVING batch
    probes its top-``probes`` cells for candidates — a pair is
    examined iff the LATER side's probe set contains the EARLIER
    side's primary cell (within a batch, later = larger id; across
    batches, later = later arrival). Cell assignment is a pure
    function of the vector, so at ``probes > 1`` the flag set is
    batching-invariant UNDER THE STORE'S ARRIVAL CONTRACT — batches
    in increasing (batch_id, id) order, the same contract the minhash
    store documents. Out-of-order arrival still flags every pair
    whose later-ARRIVING member probes the earlier one's primary
    cell; the orientation just follows arrival instead of id.
    ``probes=1`` (the default, and the registered contract) is
    orientation-free — both sides sit at one cell — so its
    batching-invariance needs no arrival-order caveat.

    Store layout under ``store_dir``: ``centroids/`` (the trained cell
    centers — written from the ``centroids`` argument on the FIRST call
    or by a prior ``save_ivf_index``; re-passing centroids later
    re-trains the geometry and invalidates earlier cells, so don't) and
    ``cells/batch_id=N/centroid_id=C/`` — the inverted lists WITH their
    vectors (id, vec), the standard IVF payload, partitioned so a
    cell's list is one directory read.

    Per batch: assign the batch to its cells (broadcast O(C)
    centroids, in-row top-1 — zero shuffles, see ``ivf_assignments``);
    candidates are same-cell pairs; exact cosine verifies candidates
    only; each new vector keeps its best earlier match (max cosine ≥
    ``min_cosine``, ties to the smallest id). The batch-stamped
    contract — per-batch overwrites, ``batch_id < N`` pruning,
    latest-wins re-ingest, flags read back — is the shared one in
    :mod:`operators._store_step`; the union of flags equals the
    one-shot ``ivf_ann_pairs`` derivation at probes=1 (pytest-pinned).

    ``pq_codebooks`` opts the store into the IVF-PQ serve layout: the
    codebooks (a ``pq_train`` output — train them ONCE over a bootstrap
    corpus, the same fixed-geometry contract as ``centroids``) are
    persisted at ``pq_codebooks/`` on the first call, each batch's
    vectors are PQ-encoded in the same pass that assigns cells, and the
    cell rows carry an extra ``codes array<int>`` column — so a serve
    job (:func:`read_ivf_pq_store` → :func:`ivf_pq_topk`) scans 8-byte
    codes instead of full vectors. Like centroids, re-passing
    codebooks later re-trains the code geometry and stales earlier
    batches' codes, so don't. The dedup flag path is unchanged (exact
    cosine over full vectors); codes are a serving artifact.

    Returns the flagged rows (id, match_id, cosine) read back from the
    flag store."""
    spark = new_vectors.sparkSession
    # local import: sources.sinks ← operators would be circular the other way
    from crypto_data_pipeline_with_kafka_spark.sources.sinks import target_exists

    cpath = f"{store_dir}/centroids"
    books_path = f"{store_dir}/pq_codebooks"
    if centroids is not None:
        centroids.write.mode("overwrite").parquet(cpath)
    elif not target_exists(spark, cpath):
        raise ValueError(
            f"no trained centroids at {cpath}: pass centroids= on the "
            "first call (e.g. from lloyd_refined_centroids / "
            "_seed_centroids over a bootstrap corpus) or save_ivf_index "
            "first — incremental updates require a fixed cell geometry"
        )
    cents = spark.read.parquet(cpath)
    if pq_codebooks is not None:
        if target_exists(spark, f"{store_dir}/cells") and "codes" not in (
            spark.read.parquet(f"{store_dir}/cells").columns
        ):
            # a mixed store is worse than either pure layout: code-less
            # early batches would serve NULL ADC scores (silently
            # unreachable vectors) or lose the coded batches' codes on
            # retrain, depending on which batch schema a reader samples
            raise ValueError(
                f"pq_codebooks= on a store whose existing cells at "
                f"{store_dir}/cells carry no codes: enable PQ from the "
                "store's FIRST batch — earlier batches' vectors were "
                "never encoded and cannot be served by ADC; rebuild "
                "the store (retrain_ivf_store will not backfill codes)"
            )
        pq_codebooks.write.mode("overwrite").parquet(books_path)
    books = (
        spark.read.parquet(books_path)
        if target_exists(spark, books_path)
        else None
    )

    if new_vectors.isEmpty():
        # P7 guard, same reasoning as foreach_batch_idempotent_append:
        # a partitionBy write of zero rows creates a parquet-less
        # cells/batch_id=N dir (just _SUCCESS) that would poison every
        # later batch's schema inference on the index read.
        return (
            new_vectors.select(F.col(id_col).alias("vec_id"))
            .withColumn("match_id", F.col("vec_id"))
            .withColumn("cosine", F.lit(None).cast("double"))
            .limit(0)
        )
    return run_store_step(
        spark,
        _ivf_family(
            new_vectors, cents, books, id_col=id_col, vec_col=vec_col,
            min_cosine=min_cosine, probes=probes,
        ),
        store_dir,
        batch_id,
    )


def _ivf_family(
    new_vectors: DataFrame,
    cents: DataFrame,
    books: DataFrame | None,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    min_cosine: float = 0.8,
    probes: int = 1,
) -> StoreFamily:
    vecs = new_vectors.select(F.col(id_col).alias("vec_id"), vec_col)

    def featurize(pin) -> StoreBatch:
        base_new = pin(with_dbl_and_approx_norm(vecs, "vec_id", vec_col))
        assign_new = pin(ivf_assignments(
            base_new,
            probes=probes,
            id_col="vec_id",
            vec_col="vdbl",
            centroids=cents,
            with_rank=True,
        ))
        primary = assign_new.filter(F.col("probe_rank") == 1).select(
            "vec_id", "centroid_id"
        )
        # the index stores ONE row per vector — its primary cell — at
        # any probes setting (multi-probe is a read-side recall knob)
        cells_new = vecs.join(primary, "vec_id")
        if books is not None:
            # PQ-encode in the same pass (in-row math against the
            # broadcast packed codebooks). Residual-tagged books
            # (pq_train_residual) encode x − c(x) against each row's
            # PRIMARY cell — the IVFADC store layout; retrain_ivf_store
            # re-encodes these codes against its new geometry.
            if "residual" in books.columns:
                enc_src = cells_new.join(
                    F.broadcast(
                        cents.select("centroid_id", F.col("cvec").alias("_cvec"))
                    ),
                    "centroid_id",
                ).select(
                    "vec_id",
                    F.zip_with(
                        dbl_vector(vec_col), "_cvec", lambda a, b: a - b
                    ).alias("_rvec"),
                )
                codes_new = pq_encode(enc_src, books, id_col="vec_id", vec_col="_rvec")
            else:
                codes_new = pq_encode(vecs, books, id_col="vec_id", vec_col=vec_col)
            cells_new = cells_new.join(codes_new, "vec_id")
        # earlier side (id_a) sits at its PRIMARY cell; the arriving
        # side (id_b) brings all its probe cells — the asymmetric serve
        # rule: a pair is examined iff the later side's probe set holds
        # the earlier side's primary cell
        return StoreBatch(
            index=(cells_new,),
            base=base_new,
            a=primary.select(F.col("vec_id").alias("id_a"), "centroid_id"),
            b=assign_new.select(F.col("vec_id").alias("id_b"), "centroid_id"),
        )

    return StoreFamily(
        id_col="vec_id",
        tables=("cells",),
        base_table="cells",
        keys=("centroid_id",),
        featurize=featurize,
        earlier_keys=lambda e: e.select(
            F.col("vec_id").alias("id_a"), F.col("centroid_id").cast("int")
        ),
        # widen=False: a derived plan (store read + key-pruning joins);
        # the widen probe would materialize those stages just to count
        # partitions
        earlier_base=lambda rows: with_dbl_and_approx_norm(
            rows.select("vec_id", vec_col), "vec_id", vec_col, widen=False
        ),
        verify=lambda cand, base: cosine_for_pairs(
            base, cand, min_cosine=min_cosine, exact_norms_in_base=False
        ),
        score="cosine",
        descending=True,
        match_col="match_id",
        sub_partitions=("centroid_id",),
    )


def _cells_vec_col(stored: DataFrame) -> str:
    """The vector column of a cells-store read is whatever the writer's
    ``vec_col`` was — the one column besides the fixed trio (and the
    optional PQ ``codes`` column a ``pq_codebooks=`` store carries)."""
    others = [
        c
        for c in stored.columns
        if c not in ("vec_id", "centroid_id", "batch_id", "codes")
    ]
    if len(others) != 1:
        raise ValueError(
            f"cells store has ambiguous vector column: {stored.columns}"
        )
    return others[0]


def read_ivf_pq_store(
    spark, store_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Serve-side view of an :func:`incremental_ivf_update` store
    written with ``pq_codebooks=``: ``(cells, codebooks, centroids)``
    where ``cells`` is ONE row per vec_id — (vec_id, <vec>, codes,
    centroid_id), latest batch wins. The store itself keeps one row per
    ingest (idempotence/pruning need the batch layout); re-ingested
    content is authoritative at its latest batch, the same
    latest-content-wins contract as the minhash/hamming stores — so
    the serve view must collapse history, one candidate-bounded
    ``max_by`` aggregation here (a long-lived serve tier would
    materialize this view at compaction time instead of per-read).

    Feed straight into :func:`ivf_pq_topk`::

        cells, books, cents = read_ivf_pq_store(spark, store)
        ivf_pq_topk(cells.select("vec_id", vec),
                    centroids=cents,
                    corpus_cells=cells.select("vec_id", "centroid_id"),
                    codebooks=books,
                    codes=cells.select("vec_id", "codes"), ...)
    """
    stored = spark.read.parquet(f"{store_dir}/cells").withColumn(
        "centroid_id", F.col("centroid_id").cast("int")
    )
    vec_col = _cells_vec_col(stored)
    if "codes" not in stored.columns:
        raise ValueError(
            f"{store_dir}/cells has no codes column: the store was not "
            "written with pq_codebooks= (enable it from the store's "
            "FIRST batch — earlier code-less batches cannot be served "
            "by ADC)"
        )
    # NULL codes mean a batch predates the codebooks (a mixed store
    # that slipped past the write-side guard, e.g. via direct writes):
    # such rows would be silently unreachable from every ADC shortlist,
    # so fail loudly instead of serving a quiet recall hole
    codes_checked = F.when(
        F.col("_s.codes").isNotNull(), F.col("_s.codes")
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit("read_ivf_pq_store: vec_id "),
                F.col("vec_id").cast("string"),
                F.lit(
                    " has no PQ codes (a batch written before the "
                    "codebooks existed) — rebuild the store with "
                    "pq_codebooks= from its first batch"
                ),
            )
        )
    )
    latest = (
        stored.groupBy("vec_id")
        .agg(
            F.max_by(
                F.struct(vec_col, "codes", "centroid_id"), "batch_id"
            ).alias("_s")
        )
        .select(
            "vec_id",
            F.col(f"_s.{vec_col}").alias(vec_col),
            codes_checked.alias("codes"),
            F.col("_s.centroid_id").alias("centroid_id"),
        )
    )
    books = spark.read.parquet(f"{store_dir}/pq_codebooks")
    cents = spark.read.parquet(f"{store_dir}/centroids")
    return latest, books, cents


def ivf_store_needs_retrain(spark, store_dir: str, factor: float = 2.0) -> bool:
    """True when the sqrt-corpus rule's C for the store's CURRENT size
    is ≥ ``factor`` × the trained centroid count — the C-doubling
    threshold at which a grown incremental store has re-created the
    fixed-C anti-pattern (SCALE.md's 10× measurement: fixed C cost 22×
    wall at 10× data). Cost: one O(C) centroid count plus a stats-only
    parquet ROW count as the first pass — raw rows upper-bound distinct
    ids (a re-ingested id has one stored row per ingest), so when even
    the raw bound stays under the threshold the answer is False with no
    data scan; only a store that crosses the bound pays the exact
    distinct-id count (the number retraining itself would derive)."""
    cents_c = spark.read.parquet(f"{store_dir}/centroids").count()
    cells = spark.read.parquet(f"{store_dir}/cells")
    if resolve_num_centroids(cells, "auto") < factor * cents_c:
        return False  # distinct ids <= raw rows: cannot need retrain
    auto_c = resolve_num_centroids(cells.select("vec_id").distinct(), "auto")
    return auto_c >= factor * cents_c


def retrain_ivf_store(
    spark,
    store_dir: str,
    num_centroids="auto",
    *,
    lloyd_rounds: int = 0,
    only_if_needed: bool = False,
    factor: float = 2.0,
) -> int | None:
    """Re-train an :func:`incremental_ivf_update` store's cell geometry
    to match its CURRENT size and re-assign every persisted vector to
    the new cells — the migration path a growing store needs: geometry
    is trained once at bootstrap, and a corpus that grows 100× under
    that fixed C degrades exactly the way ``num_centroids='auto'``
    exists to prevent (SCALE.md's fixed-C 10× measurement). Returns the
    new C, or None when ``only_if_needed`` and the store is still
    within ``factor`` of its trained geometry.

    What happens: C is re-derived from the store's current size
    (``'auto'`` = the sqrt-corpus rule, or pass an int), new centroids
    are trained over the STORED vectors (the deterministic seeded pick,
    optionally ``lloyd_rounds`` k-means refinements — same trainers as
    the one-shot path, so a fresh store trained on the same corpus gets
    bitwise-identical geometry, which is what the equivalence test
    pins), and ONE distributed pass re-assigns all cells
    (``ivf_assignments(probes=1, carry_cols=('batch_id',))`` — per-row
    scoring against the broadcast O(C) centroids, zero shuffles before
    the layout repartition). The ``batch_id`` layout is preserved, so
    incremental idempotence/pruning semantics continue unchanged and
    the next ``incremental_ivf_update`` sees exactly the store a
    fresh-trained sibling would have. ``flagged/`` is untouched:
    flags are cosine-VERIFIED verdicts, valid under any geometry —
    re-training changes future candidate recall, never past truths.

    Swap protocol: both new tables are staged by distributed writes,
    then swapped in together by ``warehouse._HadoopFs.swap`` — the
    ``compact_partitions`` backup-rename swap, which adds a
    ``.retrain_commit`` marker because two directories swap. Recovery
    (:func:`recover_ivf_store`, run automatically at the start of every
    retrain) rolls FORWARD to the new geometry when the marker exists,
    so a crash between the cells swap and the centroids swap can never
    be 'repaired' into a mixed-geometry store; marker-less staged dirs
    are incomplete writes to sweep. Run retraining when no updater
    races it — the streaming runner's contract is stop stream →
    retrain → restart (``streaming.pipeline.run_incremental_ivf_stream``)."""
    # local import: warehouse is a peer package module; it imports
    # nothing from operators, so this cannot cycle
    from crypto_data_pipeline_with_kafka_spark.warehouse import _HadoopFs

    cells_path = f"{store_dir}/cells"
    recover_ivf_store(spark, store_dir)
    if only_if_needed and not ivf_store_needs_retrain(spark, store_dir, factor):
        return None
    _, staged_cells, _ = _HadoopFs.swap_paths(store_dir, "cells", _RETRAIN_TAG)
    _, staged_cents, _ = _HadoopFs.swap_paths(store_dir, "centroids", _RETRAIN_TAG)
    from crypto_data_pipeline_with_kafka_spark.sources.sinks import target_exists

    stored = spark.read.parquet(cells_path)
    vec_col = _cells_vec_col(stored)
    books_path = f"{store_dir}/pq_codebooks"
    books = (
        spark.read.parquet(books_path)
        if target_exists(spark, books_path)
        else None
    )
    residual_books = books is not None and "residual" in books.columns
    # RAW-layout PQ codes are cell-geometry-independent — carried
    # through the re-assignment untouched. RESIDUAL-tagged codes die
    # with their geometry, so they are dropped here and RE-ENCODED
    # against the new centroids inside the same re-assignment pass
    # below (the books stay fixed — like centroids at bootstrap, they
    # are the code geometry; only the quantized residuals move).
    extra_cols = (
        ("codes",) if "codes" in stored.columns and not residual_books else ()
    )
    vecs = stored.select("vec_id", vec_col, "batch_id", *extra_cols)
    # Training/C-derivation sees ONE row per id (latest batch wins): a
    # re-ingested id has one stored row per ingest, and training on the
    # raw store would inflate auto-C and make the seeded pick
    # partition-order-dependent (stale and current rows carry IDENTICAL
    # md5 sort keys, so limit(C) could pick either — breaking the
    # retrained-equals-fresh determinism contract). The store CONTENT
    # keeps every batch's rows — incremental pruning semantics are
    # untouched; only the trainer sees the deduped view.
    train_vecs = vecs.groupBy("vec_id").agg(
        F.max_by(vec_col, "batch_id").alias(vec_col)
    )

    c = resolve_num_centroids(train_vecs, num_centroids)
    if lloyd_rounds > 0:
        cents = lloyd_refined_centroids(
            train_vecs,
            num_centroids=c,
            rounds=lloyd_rounds,
            id_col="vec_id",
            vec_col=vec_col,
        )
    else:
        base = train_vecs.select("vec_id", dbl_vector(vec_col).alias("vdbl"))
        cents = _seed_centroids(base, c, "vec_id")
    # pin the geometry before it feeds both the staged write and the
    # re-assignment (a lazy plan would otherwise re-derive it twice)
    cents = cents.localCheckpoint()

    re_cells = ivf_assignments(
        vecs,
        probes=1,
        id_col="vec_id",
        vec_col=vec_col,
        centroids=cents,
        carry_cols=("batch_id", vec_col) + extra_cols,
    )
    if residual_books:
        # re-encode x − c_new(x) per stored row, in-row against the
        # broadcast packed books + O(C) new centroids — no join back
        # on vec_id (stale re-ingested rows share ids across batches),
        # no second corpus pass: this IS the re-assignment pass
        packed = _packed_codebooks(books)
        re_cells = (
            re_cells.join(
                F.broadcast(
                    cents.select("centroid_id", F.col("cvec").alias("_cvec"))
                ),
                "centroid_id",
            )
            .crossJoin(F.broadcast(packed))
            .withColumn(
                "_rvec",
                F.zip_with(dbl_vector(vec_col), "_cvec", lambda a, b: a - b),
            )
            .withColumn("codes", _codes_expr("_rvec", exact=False))
            .drop("_cb", "_cvec", "_rvec")
        )
        extra_cols = ("codes",)
    (
        # one exchange on the layout keys so each (batch, cell) dir
        # lands as one file — this IS the maintenance pass, small-file
        # consolidation included
        re_cells.select("vec_id", vec_col, *extra_cols, "batch_id", "centroid_id")
        .repartition("batch_id", "centroid_id")
        .write.mode("overwrite")
        .partitionBy("batch_id", "centroid_id")
        .parquet(staged_cells)
    )
    cents.write.mode("overwrite").parquet(staged_cents)

    _HadoopFs(spark, store_dir).swap(store_dir, _RETRAIN_TABLES, _RETRAIN_TAG)
    return c


_RETRAIN_TABLES = ("cells", "centroids")
_RETRAIN_TAG = "retrain"


def recover_ivf_store(spark, store_dir: str) -> None:
    """Crash recovery for an interrupted :func:`retrain_ivf_store`
    (``warehouse._HadoopFs.recover_swap``). Two regimes, decided by the
    ``.retrain_commit`` marker:

    * marker PRESENT — both staged tables were complete and the swap
      had begun: roll each table FORWARD (staged → live, sweeping
      backups), so the store ends at the NEW geometry and the marker
      is removed. Rolling forward — never restoring one table's backup
      while the other is already swapped — is what keeps the cells and
      centroids geometries CONSISTENT through any crash point of the
      two-directory swap.
    * marker ABSENT — staged dirs are incomplete distributed writes
      (leaked bytes): delete them; a backup whose live sibling is
      missing is the authoritative copy — restore it; a backup with a
      live sibling is swept.

    Called automatically at the start of every retrain; exposed for an
    operator who wants to repair the store without retraining."""
    from crypto_data_pipeline_with_kafka_spark.warehouse import _HadoopFs

    _HadoopFs(spark, store_dir).recover_swap(
        store_dir, _RETRAIN_TABLES, _RETRAIN_TAG
    )
