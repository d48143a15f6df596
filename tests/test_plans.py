"""Physical-plan assertions — the scale properties SURVEY §4 calls out.
A query that silently loses predicate pushdown, broadcasts nothing, or
adds an extra window Exchange would still pass value checks; these tests
pin the plan shape itself."""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

from crypto_data_pipeline_with_kafka_spark.catalog import load_table
from crypto_data_pipeline_with_kafka_spark.operators.indicators import (
    compute_indicators,
)
from crypto_data_pipeline_with_kafka_spark.plans.registry import all_queries

SF = "/root/testdata/sf0.01"


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_filters_and_projection_reach_parquet_scan(spark):
    q = all_queries()["rel_project_conditional"]
    plan = plan_of(q.fn(spark, SF))
    assert "PushedFilters: [" in plan
    assert re.search(r"PushedFilters: \[.*GreaterThan\(l_discount", plan), plan
    # column pruning: the scan must read only the 6 referenced columns
    # (3 projected + discount/tax/shipdate), not all 11 lineitem columns
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and len(m.group(1).split(",")) <= 6, m.group(0) if m else plan


def test_dim_joins_broadcast(spark):
    q = all_queries()["rel_join_dim_chain"]
    plan = plan_of(q.fn(spark, SF))
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "SortMergeJoin" not in plan


def test_indicators_single_window_exchange(spark):
    """All indicators share ONE partition+sort: exactly one shuffle
    Exchange in the whole plan (the reference's 4-branch union would
    plan 4 window sorts)."""
    events = load_table(spark, SF, "events")
    plan = plan_of(compute_indicators(events), "simple")
    assert len(re.findall(r"\bExchange\b", plan)) == 1, plan
    assert len(re.findall(r"\bSort\b", plan)) == 1, plan
    assert len(re.findall(r"\bWindow\b", plan)) == 2, plan  # lag + frame sums


def test_q1_partial_aggregation(spark):
    """Map-side partial agg before the shuffle (partial+final pattern)."""
    q = all_queries()["agg_q1"]
    plan = plan_of(q.fn(spark, SF), "simple")
    assert len(re.findall(r"HashAggregate", plan)) >= 2, plan


def test_topk_uses_take_ordered(spark):
    """Global ORDER BY + LIMIT must plan as TakeOrderedAndProject, not a
    full sort + limit."""
    q = all_queries()["sort_limit_top100"]
    plan = plan_of(q.fn(spark, SF), "simple")
    assert "TakeOrderedAndProject" in plan, plan


def test_no_python_udf_in_builtin_paths(spark):
    """The hot-path queries must stay JVM-side: no BatchEvalPython /
    row-at-a-time Python anywhere (ArrowEvalPython is allowed only in
    the explicitly-UDF queries)."""
    for name in (
        "ind_pipeline",
        "agg_q1",
        "dedup_minhash_lsh",
        "sim_cosine_topk",
        "text_profile",
        "news_pipeline",  # sentiment hot path = built-in fold, not the UDF
    ):
        plan = plan_of(all_queries()[name].fn(spark, SF), "simple")
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name


def test_no_python_rdd_scan_in_dashboard_paths(spark):
    """The dashboard read path runs no Python worker: a literal relation
    built from a Python list scans as ``Scan ExistingRDD`` over a
    PythonRDD (one Python-worker task per default-parallelism slot on
    every scan); literal relations must be LocalRelations
    (``catalog.local_relation``)."""
    dashboard = (
        "ind_pipeline",
        "agg_q1",
        "win_tumbling_candles",
        "win_sessionize",
        "rel_asof_join",
        "topk_per_group",
        "news_pipeline",
    )
    rdd_scans = [
        name
        for name in dashboard
        if "ExistingRDD" in plan_of(all_queries()[name].fn(spark, SF), "simple")
    ]
    assert not rdd_scans, rdd_scans


def test_partitioned_warehouse_prunes(spark, tmp_path):
    """The warehouse layout: date-partitioned facts, and a time-range
    read whose partition filter prunes directories at planning time."""
    from crypto_data_pipeline_with_kafka_spark.warehouse import (
        read_events_range,
        write_events_warehouse,
    )

    events = load_table(spark, SF, "events")
    path = str(tmp_path / "wh")
    write_events_warehouse(events, path)

    ranged = read_events_range(spark, path, "2024-01-10", "2024-01-12")
    plan = plan_of(ranged)
    assert re.search(r"PartitionFilters: \[.*dt", plan), plan
    # correctness of the pruned read
    import pyspark.sql.functions as F

    expected = events.filter(
        (F.col("ts") >= "2024-01-10") & (F.col("ts") < "2024-01-12")
    ).count()
    assert ranged.count() == expected > 0
    # only the 2 matching dt= directories are scanned
    m = re.search(r"partition count: (\d+)", plan) or re.search(
        r"selected (\d+) partitions", plan
    )
    if m:
        assert int(m.group(1)) <= 2


def test_bucketed_join_avoids_shuffle(spark, tmp_path):
    """Bucketing (SURVEY §4 / pyspark guide): facts bucketed on the join
    key co-locate, so a fact-fact join plans with NO Exchange on either
    side — the 100-TB answer to repeated big joins on one key."""
    import pyspark.sql.functions as F

    events = load_table(spark, SF, "events")
    (
        events.write.bucketBy(8, "user_id")
        .sortBy("user_id", "ts")
        .option("path", str(tmp_path / "ev_bucketed"))  # external table loc
        .mode("overwrite")
        .saveAsTable("ev_bucketed")
    )
    agg = (
        spark.table("ev_bucketed")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    joined = spark.table("ev_bucketed").join(agg, "user_id")
    plan = plan_of(joined, "simple")
    # the groupBy on the bucket key needs NO shuffle (partial+final run
    # back-to-back over bucketed input); a BroadcastExchange for the
    # tiny agg side is fine — what must be absent is hash repartitioning
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Bucketed: true" in plan, plan
    assert joined.count() == events.count()
    spark.sql("DROP TABLE IF EXISTS ev_bucketed")


def test_simhash_pairs_no_forced_per_doc_broadcast(spark):
    """The packed-signature relation is O(corpus) — one row per doc —
    so simhash_pairs must NOT hint it broadcast (driver OOM at scale);
    AQE may still choose a broadcast at runtime when it actually fits."""
    import pyspark.sql.functions as F

    from crypto_data_pipeline_with_kafka_spark.operators.dedup import simhash_pairs

    sims = spark.range(100).select(
        F.col("id").alias("doc_id"), F.lpad(F.bin("id"), 64, "0").alias("simhash")
    )
    logical = simhash_pairs(sims)._jdf.queryExecution().analyzed().toString()
    assert "broadcast" not in logical.lower(), logical


def test_registry_holds_exactly_fifty_queries():
    """The driver's CORRECTNESS gate attests 50 queries; every slot must
    carry one (growing past 50 silently drops a query's verdict —
    merge into a composite or swap instead)."""
    qs = all_queries()
    assert len(qs) == 50, sorted(qs)
    rows_only = [n for n, q in qs.items() if q.oracle is None]
    # every registered query is value-checked: even the sketch query
    # emits its error bounds as oracle-matchable booleans (round 4)
    assert rows_only == [], rows_only


def test_ngram_plan_caches_out_param_releases_everything(spark):
    """dedup_ngram_jaccard's cache lifecycle (r11): the registered plan
    persists one token base plus per-leg intermediates; the bench loop
    clears them via its documented clearCache(), but a long-lived
    session calling the plan directly must be able to release them
    WITHOUT nuking the whole catalog — the caches= out-param hands
    every persisted handle back, and unpersisting them empties the
    SQL CacheManager again. Scope note: the census sees
    DataFrame-level persists only (everything this plan creates) —
    if the plan ever routes through an RDD-level localCheckpoint
    (e.g. the minhash cluster rounds), extend the census, because the
    cache manager is blind to those."""
    from crypto_data_pipeline_with_kafka_spark.plans.q_dedup import (
        dedup_ngram_jaccard,
    )

    # census via the SQL CacheManager, not getPersistentRDDs(): the
    # RDD census also counts other tests' localCheckpoint RDDs, whose
    # async ContextCleaner reaping races this test (observed flaky in
    # the full suite); DataFrame.persist/unpersist entries are
    # explicit and synchronous in the cache manager
    jcm = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    assert jcm.isEmpty()
    caches: list = []
    n = dedup_ngram_jaccard(spark, "/root/testdata/sf0.001", caches=caches).count()
    assert n > 0
    assert caches, "plan persisted nothing into the out-param"
    # the plan really did persist (the leak the out-param exists for)
    assert not jcm.isEmpty()
    for c in caches:
        c.unpersist()
    assert jcm.isEmpty()


def test_no_query_emits_nested_columns(spark):
    """Every registered query must emit only atomic columns: the
    driver's canonicalizer sorts result values in pandas and dies on
    unhashable array/map cells (round 2's agg_approx_sketches err —
    its quartiles array made even the rows-only check unrunnable).
    Schema-only: builds each DataFrame without executing it."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    bad = []
    for name, q in sorted(all_queries().items()):
        for f in q.fn(spark, "/root/testdata/sf0.001").schema.fields:
            if isinstance(f.dataType, (ArrayType, MapType, StructType)):
                bad.append(f"{name}.{f.name}: {f.dataType.simpleString()}")
    assert bad == [], bad


def test_ann_suite_has_no_cartesian_product(spark):
    """Both ANN legs must stay bucket/cell-joined: the only nested-loop
    allowed is the broadcast against the O(num_centroids) centroid
    table (BroadcastNestedLoopJoin), never a CartesianProduct over
    corpus-sized relations."""
    q = all_queries()["sim_ann_suite"]
    plan = plan_of(q.fn(spark, SF), "simple")
    assert "CartesianProduct" not in plan, plan


def test_flagship_anti_join_broadcasts_via_aqe(spark):
    """The flagship's idempotence anti-join deliberately carries NO
    broadcast hint (the existing-keys side is history-sized at 100 TB,
    so a forced broadcast is a driver-OOM class bug); AQE must still
    convert the sort-merge candidate to a broadcast at bench scales
    from runtime statistics. Asserted on the FINALIZED adaptive plan of
    the Dataset's own QueryExecution: ``collectAsList`` executes that
    exact QueryExecution (``.count()`` would derive a NEW one and leave
    this plan isFinalPlan=false), and the assertion is scoped to the
    '== Final Plan ==' section — the initial-plan section still prints
    the pre-conversion SortMergeJoin."""
    df = all_queries()["ind_pipeline"].fn(spark, SF)
    df._jdf.collectAsList()  # execute THIS QueryExecution
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan, plan
    final = plan.split("== Initial Plan ==")[0]
    anti_lines = [ln for ln in final.splitlines() if "LeftAnti" in ln]
    assert anti_lines, plan
    assert all("BroadcastHashJoin" in ln for ln in anti_lines), plan


def test_flagship_prefilter_prunes_existing_partitions(spark, tmp_path):
    """The r4 verdict's deferred promise, now code: the flagship's
    existing-keys side is pre-filtered to the ingest [min(ts), max(ts)]
    before the left-anti join (prefilter_to_ingest_range). When existing
    is a warehouse (dt-partitioned) read, the derived date predicate is
    STATIC — it must land in PartitionFilters so history partitions are
    pruned at planning time, keeping the anti-join's build side
    O(ingest-window) at any history size. Also asserts the pre-filter is
    a semantic no-op: identical output with it on and off."""
    import datetime as dt

    import pyspark.sql.functions as F

    from crypto_data_pipeline_with_kafka_spark.operators.indicators import (
        indicator_pipeline,
        prefilter_to_ingest_range,
    )

    events = load_table(spark, SF, "events")
    # 'existing' = the indicator store a previous full run persisted,
    # laid out per warehouse.py (dt= partition dirs)
    path = str(tmp_path / "ind_store")
    (
        indicator_pipeline(spark, events)
        .withColumn("dt", F.date_format("ts", "yyyy-MM-dd"))
        .write.partitionBy("dt")
        .parquet(path)
    )
    existing = spark.read.parquet(path)
    n_parts = existing.select("dt").distinct().count()

    # ingest = the last ~2 days of events (an incremental batch)
    hi = events.agg(F.max("ts")).first()[0]
    ingest = events.filter(F.col("ts") >= F.lit(hi - dt.timedelta(days=2)))
    assert not ingest.isEmpty()

    pruned = prefilter_to_ingest_range(ingest, existing)
    plan = plan_of(pruned)
    assert re.search(r"PartitionFilters: \[.*dt", plan), plan
    m = re.search(r"partition count: (\d+)", plan)
    if m:  # the dt predicate prunes to the ingest window's partitions
        assert int(m.group(1)) <= 3 < n_parts, plan

    on = indicator_pipeline(spark, ingest, existing=existing)
    off = indicator_pipeline(spark, ingest, existing=existing, prefilter_existing=False)
    assert on.exceptAll(off).isEmpty() and off.exceptAll(on).isEmpty()


def test_widen_if_narrow_fixes_single_split_scans(spark):
    """A single-split scan is widened to cluster parallelism (hash
    partitioning — deterministic under retry); an input already at or
    above defaultParallelism passes through with NO added shuffle."""
    from pyspark.sql import functions as F

    from crypto_data_pipeline_with_kafka_spark.catalog import widen_if_narrow

    target = spark.sparkContext.defaultParallelism
    docs = load_table(spark, SF, "documents")
    assert docs.rdd.getNumPartitions() < target  # the premise: narrow scan
    wide = widen_if_narrow(docs, "doc_id")
    assert wide.rdd.getNumPartitions() == target
    # value-preserving: same rows, and hash partitioning keeps layout
    # deterministic across evaluations
    assert wide.count() == docs.count()
    assert "hashpartitioning" in wide._jdf.queryExecution().toString().lower()

    already_wide = docs.repartition(target, "doc_id")
    passthrough = widen_if_narrow(already_wide, "doc_id")
    assert passthrough is already_wide  # no extra Exchange on the scale path

    # streaming frames pass through untouched
    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", "1").load()
    )
    assert widen_if_narrow(stream, "value") is stream


def test_retrain_reassignment_plan_no_hash_exchange(spark, tmp_path):
    """retrain_ivf_store's re-assignment is ONE distributed map over
    the cells store: in-row scoring against the broadcast O(C)
    centroids with batch_id carried per row (carry_cols) — the
    assignment plan must contain NO hash Exchange (the single layout
    exchange is added only by the final repartition before the staged
    write), and the centroids must arrive via BroadcastExchange."""
    import pyspark.sql.functions as F

    from crypto_data_pipeline_with_kafka_spark.operators.similarity import (
        _seed_centroids,
        dbl_vector,
        incremental_ivf_update,
        ivf_assignments,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    store = str(tmp_path / "store")
    cents = _seed_centroids(
        emb.select("vec_id", dbl_vector("embedding").alias("vdbl")), 4, "vec_id"
    ).localCheckpoint()
    incremental_ivf_update(emb, store, 0, centroids=cents, min_cosine=0.9)

    stored = spark.read.parquet(f"{store}/cells")
    vecs = stored.select("vec_id", "embedding", "batch_id")
    re_cells = ivf_assignments(
        vecs,
        probes=1,
        id_col="vec_id",
        vec_col="embedding",
        centroids=cents,
        carry_cols=("batch_id", "embedding"),
    )
    plan = plan_of(re_cells, "simple")
    assert "Exchange hashpartitioning" not in plan, plan
    assert "BroadcastExchange" in plan, plan
    # the carried columns actually ride through
    assert set(re_cells.columns) == {"vec_id", "batch_id", "embedding", "centroid_id"}


def test_new_r11_operators_plan_shapes(spark):
    """Plan pins for the r11 additions (the engine's broadcast
    discipline, asserted so a regression to a shuffled or cartesian
    plan fails loudly): (a) bq_topk broadcasts the bounded QUERY side
    over the streaming packed-lane corpus (BroadcastNestedLoopJoin,
    never CartesianProduct); (b) the NB classifier's scoring join
    broadcasts the bucket-capped weights table (BroadcastHashJoin);
    (c) semantic_decontaminate broadcasts the eval-set-sized benchmark
    (BroadcastNestedLoopJoin, never CartesianProduct). The classifier
    trains once (its documented O(1)-row totals collect runs); every
    ASSERTED plan is built without executing."""
    import pyspark.sql.functions as F

    from crypto_data_pipeline_with_kafka_spark.functions.quality_model import (
        score_with_quality_classifier,
        train_quality_classifier,
    )
    from crypto_data_pipeline_with_kafka_spark.operators.semantic import (
        semantic_decontaminate,
    )
    from crypto_data_pipeline_with_kafka_spark.operators.similarity import (
        bq_topk,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    bq_plan = plan_of(bq_topk(emb, query_ids_max=8, k=3))
    assert "BroadcastNestedLoopJoin" in bq_plan
    assert "CartesianProduct" not in bq_plan

    from crypto_data_pipeline_with_kafka_spark.operators.similarity import (
        mrl_topk,
    )

    mrl_plan = plan_of(mrl_topk(emb, prefix_dims=16, query_ids_max=8, k=3))
    assert "BroadcastNestedLoopJoin" in mrl_plan
    assert "CartesianProduct" not in mrl_plan

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    labeled = docs.withColumn("label", (F.length("text") % 2).cast("int"))
    model = train_quality_classifier(labeled, num_buckets=1 << 12)
    score_plan = plan_of(score_with_quality_classifier(docs, model))
    assert "BroadcastHashJoin" in score_plan, score_plan

    bench = emb.limit(5)
    dec_plan = plan_of(semantic_decontaminate(emb, bench, 0.9))
    assert "BroadcastNestedLoopJoin" in dec_plan
    assert "CartesianProduct" not in dec_plan
    spark.catalog.clearCache()


def test_r12_fusion_plan_shapes(spark):
    """r12 fusion operators stay declarative and small: rrf_fuse plans
    as union → hash aggregate → window with no cartesian product and
    no Python eval; recall_at_k joins broadcast-small rankings (no
    cartesian, no Python)."""
    from crypto_data_pipeline_with_kafka_spark.operators.fusion import (
        recall_at_k,
        rrf_fuse,
    )

    a = spark.createDataFrame(
        [(0, 10, 1), (0, 11, 2)], "query_id long, doc_id long, rank int"
    )
    b = spark.createDataFrame(
        [(0, 11, 1), (0, 12, 2)], "query_id long, doc_id long, rank int"
    )
    rrf_plan = plan_of(rrf_fuse([("a", a), ("b", b)]), "simple")
    assert "CartesianProduct" not in rrf_plan, rrf_plan
    assert "BatchEvalPython" not in rrf_plan and "ArrowEvalPython" not in rrf_plan
    assert "HashAggregate" in rrf_plan and "Window" in rrf_plan

    rec_plan = plan_of(recall_at_k(b, a), "simple")
    assert "CartesianProduct" not in rec_plan, rec_plan
    assert "BatchEvalPython" not in rec_plan and "ArrowEvalPython" not in rec_plan
