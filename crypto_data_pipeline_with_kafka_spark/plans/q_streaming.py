"""Streaming queries (SURVEY §2.9): each runs the REAL Structured
Streaming engine (file source standing in for the Kafka topic, as §5's
test strategy prescribes) to completion with the AvailableNow trigger,
then returns the materialized result — so even streaming semantics are
value-checked against a batch DuckDB oracle."""

from __future__ import annotations

import glob
import os
import shutil
import tempfile
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crypto_data_pipeline_with_kafka_spark.catalog import load_table, local_relation
from crypto_data_pipeline_with_kafka_spark.plans.q_dedup import (
    _BAND_SELECTS,
    _SH_CTE,
    _SIG_COLS,
)
from crypto_data_pipeline_with_kafka_spark.plans.q_indicators import (
    _EMA_WILDER_ORACLE_SQL,
)
from crypto_data_pipeline_with_kafka_spark.plans.registry import register
from crypto_data_pipeline_with_kafka_spark.sources.readers import events_stream_reader
from crypto_data_pipeline_with_kafka_spark.streaming.pipeline import (
    run_incremental_dedup_stream,
    run_to_memory,
    streaming_dedup,
    streaming_session_windows,
    streaming_tumbling_counts,
)


def _stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    return events_stream_reader(spark, os.path.join(sf_dir, "events.parquet"))


@register(
    "stream_tumbling_counts",
    """
    SELECT time_bucket(INTERVAL '1 hour', ts) AS bucket_start, event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
    FROM events
    GROUP BY 1, 2
    """,
    doc="ST4/ST5: watermarked tumbling-window streaming aggregation, run "
    "through the real incremental engine (AvailableNow → complete mode "
    "memory sink); equals the batch result because complete mode emits "
    "every window",
    tags=("streaming",),
)
def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # builder path: the stream is constructed on a cloned session, so
    # the state-partition conf never touches the caller's session
    return run_to_memory(
        lambda s: streaming_tumbling_counts(_stream(s, sf_dir)),
        output_mode="complete",
        name_prefix="tumbling_counts",
        spark=spark,
    )


@register(
    "stream_dedup_distinct",
    f"""
    WITH {_SH_CTE},
    sig AS (
      SELECT doc_id,
         {_SIG_COLS}
      FROM sh GROUP BY doc_id
    ),
    bandl AS (
      {_BAND_SELECTS}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bandl a
      JOIN bandl b ON a.band_id = b.band_id AND a.band_key = b.band_key
                  AND a.doc_id < b.doc_id
    ),
    dup_pairs AS (
      SELECT c.id_a, c.id_b, j.jaccard
      FROM cand c JOIN jac j USING (id_a, id_b)
      WHERE j.jaccard >= 0.8
    ),
    best AS (
      SELECT id_a, id_b, jaccard,
             row_number() OVER (PARTITION BY id_b
                                ORDER BY jaccard DESC, id_a) AS rn
      FROM dup_pairs
    )
    SELECT 'distinct' AS part, user_id, event_type,
           CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS BIGINT) AS dup_of,
           CAST(NULL AS DOUBLE) AS jaccard
    FROM (SELECT DISTINCT user_id, event_type FROM events)
    UNION ALL
    SELECT 'incr' AS part, CAST(NULL AS BIGINT) AS user_id,
           CAST(NULL AS VARCHAR) AS event_type,
           id_b AS doc_id, id_a AS dup_of, jaccard
    FROM best WHERE rn = 1
    """,
    doc="ST3 tagged union, both legs through the REAL streaming engine: "
    "'distinct' = stateful streaming dropDuplicates over "
    "(user_id, event_type) — the engine-checkpointed replacement for "
    "the producer's in-memory dedup sets (producer_news.py:45), append "
    "mode emits each key once; 'incr' = the documents corpus arriving "
    "as three id-ordered files, MinHash-LSH deduped per micro-batch "
    "against the persisted band/shingle index of every EARLIER batch "
    "(run_incremental_dedup_stream → incremental_minhash_dedup: the "
    "batch side is broadcast, the index is scanned never shuffled, "
    "writes are per-batch_id overwrites so redelivery is exactly-once) "
    "— per arriving doc its best earlier duplicate, which "
    "batching-invariance makes EXACTLY the one-shot run's best "
    "earlier pair, so the oracle derives it from the same dup_pairs "
    "CTEs the batch query uses",
    tags=("streaming", "dedup", "lsh"),
)
def stream_dedup_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = run_to_memory(
        lambda s: streaming_dedup(
            _stream(s, sf_dir).select("user_id", "event_type"),
            ["user_id", "event_type"],
        ),
        output_mode="append",
        name_prefix="dedup_distinct",
        spark=spark,
    )

    # incr leg: stage the corpus as 3 contiguous-id files with strictly
    # increasing mtimes (the file source processes oldest-first, one
    # file per micro-batch), then drain the real streaming query. The
    # temp store must outlive this lazy result (flags re-read it), so
    # it is not cleaned up here; tempfile puts it under /tmp.
    docs = load_table(spark, sf_dir, "documents")
    src = tempfile.mkdtemp(prefix="incr_dedup_src_")
    store = tempfile.mkdtemp(prefix="incr_dedup_store_")
    lo, hi = docs.agg(F.min("doc_id"), F.max("doc_id")).first()
    if lo is None:
        # empty corpus: nothing to stage, the stream would see zero
        # files and the store is never created — the incr leg is empty
        flags = local_relation(
            spark, [], "doc_id long, dup_of long, jaccard double"
        )
    else:
        cuts = [lo, lo + (hi - lo + 1) // 3, lo + 2 * (hi - lo + 1) // 3, hi + 1]
        now = time.time()
        for b in range(3):
            stage = f"{src}/_stage"
            (
                docs.filter(
                    (F.col("doc_id") >= cuts[b]) & (F.col("doc_id") < cuts[b + 1])
                )
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(stage)
            )
            part = glob.glob(f"{stage}/part-*.parquet")[0]
            dst = f"{src}/batch{b}.parquet"
            shutil.move(part, dst)
            shutil.rmtree(stage)
            os.utime(dst, (now + 10 * b, now + 10 * b))
        run_incremental_dedup_stream(spark, src, store)
        flags = spark.read.parquet(f"{store}/flagged")

    return ev.select(
        F.lit("distinct").alias("part"),
        "user_id",
        "event_type",
        F.lit(None).cast("long").alias("doc_id"),
        F.lit(None).cast("long").alias("dup_of"),
        F.lit(None).cast("double").alias("jaccard"),
    ).unionByName(
        flags.select(
            F.lit("incr").alias("part"),
            F.lit(None).cast("long").alias("user_id"),
            F.lit(None).cast("string").alias("event_type"),
            "doc_id",
            "dup_of",
            "jaccard",
        )
    )


@register(
    "stream_session_window",
    """
    WITH g AS (
      SELECT user_id, ts,
        CASE WHEN lag(ts) OVER w IS NULL
               OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000
             THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
      SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, new_sess DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seq
      FROM g
    )
    SELECT user_id, min(ts) AS session_start, max(ts) + INTERVAL 30 MINUTE AS session_end,
           CAST(count(*) AS BIGINT) AS n_events
    FROM s GROUP BY user_id, seq
    """,
    doc="ST5: native streaming session_window (30-min gap) through the "
    "real incremental engine — sessions merge across micro-batches in "
    "the state store; complete mode emits the final merged sessions. "
    "Oracle is the batch lag+cumsum sessionization with session_end = "
    "last event + gap (session-window convention; boundary at "
    "diff >= gap, matching the engine's [start, end) window)",
    tags=("streaming", "window", "time"),
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_to_memory(
        lambda s: streaming_session_windows(_stream(s, sf_dir)),
        output_mode="complete",
        name_prefix="session_window",
        spark=spark,
    )


@register(
    "stream_idempotent_replay",
    """
    SELECT event_id, user_id, event_type, value, ts FROM events
    """,
    doc="ST2/S7: exactly-once-to-idempotent-sink delivery, value-checked "
    "— the SAME micro-batch is delivered TWICE through "
    "foreach_batch_idempotent_append into a fresh date-partitioned store "
    "(crash-between-write-and-commit redelivery); the second delivery is "
    "absorbed by the partition-pruned anti-join, so the read-back store "
    "equals one clean copy of the batch (oracle: plain SELECT — "
    "event_id is the batch key and is unique). Replaces the reference's "
    "at-least-once manual commit + per-row INSERT IGNORE "
    "(consumer_prices.py:70-81)",
    tags=("streaming", "sink"),
)
def stream_idempotent_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from crypto_data_pipeline_with_kafka_spark.catalog import load_table
    from crypto_data_pipeline_with_kafka_spark.streaming.pipeline import (
        foreach_batch_idempotent_append,
    )

    cols = ["event_id", "user_id", "event_type", "value", "ts"]
    batch = load_table(spark, sf_dir, "events").select(*cols)
    target = os.path.join(tempfile.mkdtemp(prefix="replay_store_"), "store")
    sink = foreach_batch_idempotent_append(target, keys=["event_id"], ts_col="ts")
    sink(batch, 0)
    sink(batch, 1)  # redelivered batch → anti-join no-op
    if not os.path.isdir(target):
        # empty ingest: the sink's non_empty guard correctly wrote
        # nothing, so the store was never created — one clean copy of
        # an empty batch is an empty relation of the same schema
        return batch.limit(0)
    return spark.read.parquet(target).select(*cols)


@register(
    "stream_interval_join",
    """
    SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id,
           v.ts AS v_ts, p.ts AS p_ts, p.value
    FROM events v
    JOIN events p
      ON v.user_id = p.user_id
     AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 6 HOUR
    WHERE v.event_type = 'view' AND p.event_type = 'purchase'
    """,
    doc="Stream-stream INNER join with an event-time interval bound, "
    "through the real streaming engine: views matched to the same "
    "user's purchases within 6 h after them — the streaming extension "
    "of the as-of price↔news correlation (SURVEY §2.3 note), run as "
    "two watermarked sources over the events topic. The two-sided time "
    "bound is what lets the engine expire join state (O(watermark+gap) "
    "per key, never O(stream)); the oracle is the equivalent batch "
    "interval join. ORACLE EQUIVALENCE BOUND: with the 1-day watermark, "
    "stream == batch only while cross-micro-batch event-time disorder "
    "stays under 1 day (single-file fixtures replay as one batch, so "
    "this holds trivially; a multi-file fixture with >1-day disorder "
    "across files would drop late rows the batch oracle keeps — widen "
    "the watermark if the fixture ever ships that way)",
    tags=("streaming", "join", "time"),
)
def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crypto_data_pipeline_with_kafka_spark.streaming.pipeline import (
        streaming_interval_join,
    )

    def build(s):
        views = _stream(s, sf_dir).filter(F.col("event_type") == "view")
        purchases = _stream(s, sf_dir).filter(F.col("event_type") == "purchase")
        return streaming_interval_join(views, purchases)

    return run_to_memory(
        build, output_mode="append", name_prefix="interval_join", spark=spark
    )


@register(
    "stream_stateful_ema",
    _EMA_WILDER_ORACLE_SQL,  # shared with ind_ema — identical IEEE ops
    doc="ST6: checkpointed per-key state — the recursive EMA AND Wilder "
    "RSI-14 (r5) as ONE STREAMING query (applyInPandasWithState, "
    "engine-managed state store: the full recurrence tuple — ema, "
    "prev value, warm-up sums, running averages — carries across "
    "micro-batches) run to completion via AvailableNow + memory sink; "
    "the oracle is ind_ema's recursive CTE, so the stateful streaming "
    "path is value-equal to both the batch applyInPandas walk and the "
    "SQL recurrence. Replaces the reference's in-memory producer dicts "
    "lost on restart (producer_prices.py:31)",
    tags=("streaming", "udf", "recursive"),
)
def stream_stateful_ema(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crypto_data_pipeline_with_kafka_spark.streaming.stateful import (
        streaming_recursive_indicators,
    )

    return run_to_memory(
        lambda s: streaming_recursive_indicators(_stream(s, sf_dir), alpha=0.125),
        output_mode="append",
        name_prefix="stateful_ema",
        spark=spark,
    )
