"""Technical-indicator pipeline — the reference's analytical core.

Semantics pinned to reference ``dags/spark_job_1.py:25-54`` (cited per
function):

* window: ``PARTITION BY key ORDER BY ts`` with a trailing 14-ROW frame
  ``rowsBetween(-13, 0)`` — ROWS not RANGE (``spark_job_1.py:25,28``).
  The reference orders by ``close_time`` alone, which is nondeterministic
  under ties; we append a unique tie-breaker column (``event_id``) to the
  ORDER BY so results are stable (SURVEY §5).
* SMA-14 = avg(value) over the frame (``spark_job_1.py:28-29``).
* RSI-14 (simple-average variant, NOT Wilder's smoothing,
  ``spark_job_1.py:32-39``): diff = value - lag(value); gain/loss default
  to 0.0 when diff is NULL (first row per key — ``when().otherwise(0.0)``
  maps the NULL condition to the otherwise branch); rs = avg(gain)/
  avg(loss) with 0-loss → NULL (division by zero); RSI = 100 - 100/(1+rs);
  NULL RSI rows dropped by the isNotNull filter (``spark_job_1.py:54``).
* Bollinger: mean ± 2 * sample stddev over the frame
  (``spark_job_1.py:42-45``; Spark ``stddev`` = ``stddev_samp``; NULL on a
  1-row frame).

Spark-first departures from the reference plan shape (same results):

* The reference builds 4 branch DataFrames off a cached scan and unions
  them (``spark_job_1.py:28-53``) — 4 Window sorts over the same child.
  Here all indicators are computed as columns over ONE window
  (one Exchange + one Sort) and unpivoted with ``stack`` — a no-shuffle
  generate. At 100 TB this is 1 shuffle of the fact instead of 4.
* The dim join (``spark_job_1.py:64-67``) is hinted ``broadcast`` — the
  dim has 4 rows; never let it shuffle the fact side.
* The anti-join dedup (``spark_job_1.py:81-85``) keeps the same
  ``left_anti`` API; the "existing keys" side is pre-filtered to the
  ingest time-range (``prefilter_to_ingest_range``) so at scale it is a
  partition-pruned O(ingest-window) read that broadcasts, never the
  O(history) relation.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crypto_data_pipeline_with_kafka_spark.catalog import local_relation

INDICATOR_TYPES = (("SMA", 1), ("RSI", 2), ("BB_UP", 3), ("BB_DOWN", 4))

WINDOW_ROWS = 14  # trailing frame length, reference spark_job_1.py:28


def indicator_type_dim(spark: SparkSession) -> DataFrame:
    """The reference's ``dim_indicator_type_1`` seed rows
    (``datawarehouse/indicator_dim_fact.sql:1-9``)."""
    return local_relation(spark, INDICATOR_TYPES, "type_name string, type_id long")


def compute_indicators(
    df: DataFrame,
    key_cols: Sequence[str] = ("user_id",),
    order_cols: Sequence[str] = ("ts", "event_id"),
    value_col: str = "value",
    ts_col: str = "ts",
    frame_rows: int = WINDOW_ROWS,
) -> DataFrame:
    """Long-format indicator relation: key cols + (type_name, ind_value, ts).

    Single window pass: SMA / RSI inputs / stddev share one
    partition+sort; the 4 indicator series come out of a ``stack``
    unpivot (vs the reference's 4 windowed branches + 3 unions,
    ``spark_job_1.py:28-53``). Rows whose indicator is NULL (warm-up /
    zero-loss RSI) are dropped, mirroring ``spark_job_1.py:54``.
    """
    # Three generated SQL levels (lag → frame sums → stack) instead of
    # ~40 py4j Column calls over six DataFrame steps: plan construction
    # is one round trip per level. Literals are typed DOUBLE (``0.0D``);
    # a bare ``0.0`` would be read as DECIMAL(1,1).
    q = _quote
    keys = ", ".join(q(c) for c in key_cols)
    over = f"PARTITION BY {keys} ORDER BY {', '.join(q(c) for c in order_cols)}"
    frame = f"OVER ({over} ROWS BETWEEN {frame_rows - 1} PRECEDING AND CURRENT ROW)"
    v = q(value_col)

    diffed = df.selectExpr("*", f"{v} - lag({v}) OVER ({over}) AS _diff")
    # Frame aggregates are computed as exact DECIMAL sums cast back to
    # double, divided by the frame count — mathematically identical to
    # avg()/stddev_samp() over the frame (the fixture doubles are exact
    # 2-decimal values), but bitwise-reproducible across engines: float
    # summation order never enters, so the DuckDB oracle matches exactly
    # instead of to-within-ulps.
    # Value-domain bound: decimal(18,6) requires |value| < 10^12. This
    # cannot be widened without losing exactness — _sxx sums dv*dv, and
    # decimal(18,6)² = decimal(37,12) is the widest square that still
    # fits Spark's 38-digit decimals losslessly. Price-like inputs
    # (the reference's domain, and the fixtures) are far inside the
    # bound; out-of-domain inputs should be range-checked upstream.
    dv = f"CAST({v} AS DECIMAL(18,6))"
    gain = "CASE WHEN _diff > 0 THEN _diff ELSE 0.0D END"
    loss = "CASE WHEN _diff < 0 THEN -_diff ELSE 0.0D END"
    carry = [q(c) for c in dict.fromkeys([*key_cols, ts_col])]
    framed = diffed.selectExpr(
        *carry,
        f"count(1) {frame} AS _n",
        f"CAST(sum({dv}) {frame} AS DOUBLE) AS _sx",
        f"CAST(sum({dv} * {dv}) {frame} AS DOUBLE) AS _sxx",
        f"CAST(sum(CAST({gain} AS DECIMAL(18,6))) {frame} AS DOUBLE) AS _sg",
        f"CAST(sum(CAST({loss} AS DECIMAL(18,6))) {frame} AS DOUBLE) AS _sl",
    )
    sma = "(_sx / _n)"
    # sample stddev from exact sums; greatest() guards the sqrt of a
    # tiny negative from cancellation, and n>1 keeps the reference's
    # NULL-on-1-row-frame semantics
    sd = (
        "(CASE WHEN _n > 1 THEN "
        "sqrt(greatest((_sxx - _sx * _sx / _n) / (_n - 1), 0.0D)) END)"
    )
    # rs division: explicit nullif keeps 0-loss frames NULL in both
    # engines (DuckDB's IEEE mode would otherwise give +inf)
    rs = "((_sg / _n) / nullif(_sl / _n, 0.0D))"
    stacked = framed.selectExpr(
        *(q(c) for c in key_cols),
        f"{q(ts_col)} AS ts",
        f"stack(4, 'SMA', {sma}, 'RSI', 100.0D - (100.0D / (1.0D + {rs})), "
        f"'BB_UP', {sma} + 2.0D * {sd}, 'BB_DOWN', {sma} - 2.0D * {sd})"
        " AS (type_name, ind_value)",
    )
    return stacked.where("ind_value IS NOT NULL")


def _quote(name: str) -> str:
    """``name`` as a SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def prefilter_to_ingest_range(
    ingest: DataFrame,
    existing: DataFrame,
    ts_col: str = "ts",
    dt_col: str = "dt",
    existing_ts_col: str | None = None,
) -> DataFrame:
    """Bound the anti-join's ``existing``-keys side to the ingest batch's
    ``[min(ts), max(ts)]``. The join keys include ``ts``, so an existing
    row outside the ingest range can never match — dropping it is a
    semantic no-op that turns the O(history) side into an
    O(ingest-window) side that AQE can actually broadcast
    (``spark_job_1.py:81-85`` anti-joins the FULL persisted fact — the
    reference's per-run O(history) cost this bound removes).

    One tiny driver probe derives the bounds (column-pruned ``ts`` scan
    of the ingest batch only — the same probe shape as
    ``foreach_batch_idempotent_append``). When ``existing`` carries the
    warehouse date-partition column (``dt``), the derived date predicate
    is STATIC, so it lands in PartitionFilters and history partitions
    are pruned at planning time, before any file is opened
    (plan-asserted in tests/test_plans.py). ``existing_ts_col`` names
    the timestamp column on the ``existing`` side when it differs from
    the probe side's ``ts_col``."""
    # The dt strings come from date_format IN THE PROBE, so they are
    # rendered under the SESSION timezone — the same timezone
    # write_events_warehouse used to derive the dt partition values. A
    # driver-side strftime would render under the host's local zone and
    # mis-prune boundary partitions on non-UTC hosts. The ts bounds ride
    # as EPOCH MICROS, never as Python datetimes: collect() hands back
    # naive local-tz datetimes whose F.lit() re-conversion is ambiguous
    # in a DST fold hour (the instant can shift by an hour and mis-prune
    # boundary rows on non-UTC drivers); integers round-trip exactly.
    b = ingest.agg(
        F.unix_micros(F.min(ts_col)).alias("lo_us"),
        F.unix_micros(F.max(ts_col)).alias("hi_us"),
        F.date_format(F.min(ts_col), "yyyy-MM-dd").alias("lo_dt"),
        F.date_format(F.max(ts_col), "yyyy-MM-dd").alias("hi_dt"),
    ).first()
    if b["lo_us"] is None:  # empty ingest → the anti-join output is empty anyway
        return existing.limit(0)
    ets = existing_ts_col if existing_ts_col is not None else ts_col
    out = existing
    if dt_col in existing.columns:
        out = out.filter(
            (F.col(dt_col) >= b["lo_dt"]) & (F.col(dt_col) <= b["hi_dt"])
        )
    return out.filter(
        (F.col(ets) >= F.timestamp_micros(F.lit(b["lo_us"])))
        & (F.col(ets) <= F.timestamp_micros(F.lit(b["hi_us"])))
    )


def indicator_pipeline(
    spark: SparkSession,
    events: DataFrame,
    existing: DataFrame | None = None,
    key_cols: Sequence[str] = ("user_id",),
    order_cols: Sequence[str] = ("ts", "event_id"),
    value_col: str = "value",
    ts_col: str = "ts",
    indicators: DataFrame | None = None,
    prefilter_existing: bool = True,
) -> DataFrame:
    """Full flagship pipeline: indicators → broadcast dim join → left-anti
    dedup against already-persisted keys (reference entry point A,
    ``spark_job_1.py:11-97``).

    ``existing`` holds the already-written ``(key..., type_id, ts)``
    tuples; rows matching it are dropped so the append is idempotent
    (``spark_job_1.py:81-85``). With ``prefilter_existing`` (default) it
    is first bounded to the ingest time-range
    (:func:`prefilter_to_ingest_range`) — partition-pruned when it is a
    warehouse read carrying ``dt`` — so the anti-join's build side stays
    O(ingest-window) at any history size. Disable only when the caller
    has already scoped ``existing`` (e.g. a pruned store read).

    ``indicators`` lets a caller pass the pre-joined indicator relation
    ``(key..., type_id, type_name, ind_value, ts)`` — e.g. a persisted
    one that also feeds the ``existing`` derivation — skipping the
    recompute here; semantics are unchanged.
    """
    if indicators is None:
        ind = compute_indicators(events, key_cols, order_cols, value_col, ts_col)
        dim = indicator_type_dim(spark)
        ind = ind.join(F.broadcast(dim), "type_name", "inner")
    else:
        ind = indicators
    if existing is not None:
        if prefilter_existing:
            # The pre-filter's no-op guarantee requires bounding
            # ``existing`` by the ANTI-JOIN'S LEFT SIDE's ts range. When
            # we computed `ind` ourselves its ts values are exactly the
            # events' ts values, so probing the raw `events` is the
            # cheap equivalent; a CALLER-supplied `indicators` relation
            # is independent of `events` (possibly wider, possibly
            # non-empty against an empty batch), so the probe must run
            # on it — pass a persisted relation to keep that probe from
            # recomputing the plan.
            if indicators is None:
                existing = prefilter_to_ingest_range(
                    events, existing, ts_col=ts_col, existing_ts_col="ts"
                )
            else:
                existing = prefilter_to_ingest_range(
                    ind.select("ts"), existing, ts_col="ts"
                )
        ind = ind.join(existing, on=[*key_cols, "type_id", "ts"], how="left_anti")
    return ind.select(*key_cols, "type_id", "type_name", "ind_value", "ts")
