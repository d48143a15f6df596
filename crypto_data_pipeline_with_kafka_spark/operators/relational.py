"""Relational operator helpers (SURVEY §2.3 joins, §2.4 aggregation
support, plus the as-of-join extension noted in §2.3).

All helpers are pure DataFrame compositions — Catalyst plans them; no
RDDs, no Python row loops.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def get_or_create_keys(
    existing: DataFrame,
    incoming: DataFrame,
    name_col: str,
    id_col: str,
) -> DataFrame:
    """J3: the reference resolves dim surrogate keys one row at a time
    (``SELECT id WHERE name=%s`` else ``INSERT``,
    ``dags/consumer_prices.py:31-39``). Set-based equivalent: anti-join
    the incoming names against the dim, assign new ids as
    ``max(existing_id) + row_number() ORDER BY name`` (deterministic),
    union back.

    The un-partitioned row_number window is intentional: dims are small
    by definition (the reference's have ≤ a few rows); the fact side
    never passes through this path. At 100 TB the incoming side should be
    ``select(name).distinct()`` of a column with low cardinality —
    the distinct is a map-side-combined shuffle of just the names.
    """
    # the dim side is small by definition (docstring above), so the
    # anti-join takes an explicit broadcast whatever the dim's source:
    # a literal dim (catalog.local_relation) is sized, but a dim with no
    # size estimate would plan the anti-join as a SortMergeJoin — two
    # exchanges + two sorts for a few dim rows
    new_names = (
        incoming.select(F.col(name_col))
        .distinct()
        .join(F.broadcast(existing), name_col, "left_anti")
    )
    max_id = existing.agg(F.coalesce(F.max(id_col), F.lit(0)).alias("_max_id"))
    w = Window.orderBy(name_col)
    new_keyed = new_names.crossJoin(F.broadcast(max_id)).select(
        F.col(name_col),
        (F.col("_max_id") + F.row_number().over(w)).cast("long").alias(id_col),
    )
    return existing.select(name_col, F.col(id_col).cast("long")).unionByName(new_keyed)


def idempotent_append(
    incoming: DataFrame, existing_keys: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """J2: drop rows whose key tuple already exists — the reference's
    left-anti dedup before its JDBC append (``dags/spark_job_1.py:81-85``).
    At scale, pre-filter ``existing_keys`` to the incoming time range so
    the anti-join side broadcasts."""
    return incoming.join(existing_keys.select(*keys), on=list(keys), how="left_anti")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    partition_cols: Sequence[str],
    left_ts: str,
    right_ts: str,
    value_cols: Sequence[str],
    tie_col: str | None = None,
) -> DataFrame:
    """As-of join: for each left row, the most recent right row with
    ``right_ts <= left_ts`` within the same partition keys (SURVEY §2.3:
    "price at-or-before a news timestamp" — the natural crypto extension;
    Spark has no native as-of).

    Implementation is the union trick — ONE shuffle + sort, no Python:
    tag sides, union, and carry each right value forward with
    ``last(value, ignorenulls=True)`` over an ordered running frame;
    right rows sort before left rows at equal timestamps so same-instant
    rows match (merge_asof ``<=`` semantics). Scales as a single window
    over (partition, time) — no per-key pandas, no range explosion.

    ``right`` should be unique per (partition_cols, right_ts); pass
    ``tie_col`` to keep the highest tie_col row per timestamp otherwise.
    """
    pcols = list(partition_cols)
    if tie_col is not None:
        wd = Window.partitionBy(*pcols, right_ts).orderBy(F.col(tie_col).desc())
        right = (
            right.withColumn("_rn", F.row_number().over(wd))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

    lcols = [c for c in left.columns if c not in pcols and c != left_ts]
    l_tagged = left.select(
        *pcols,
        F.col(left_ts).alias("_t"),
        F.lit(1).alias("_is_left"),
        *[F.col(c) for c in lcols],
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"_r_{c}") for c in value_cols],
    )
    r_tagged = right.select(
        *pcols,
        F.col(right_ts).alias("_t"),
        F.lit(0).alias("_is_left"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lcols],
        *[F.col(c).alias(f"_r_{c}") for c in value_cols],
    )
    u = l_tagged.unionByName(r_tagged)
    w = (
        Window.partitionBy(*pcols)
        .orderBy("_t", "_is_left")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    for c in value_cols:
        u = u.withColumn(f"_r_{c}", F.last(f"_r_{c}", ignorenulls=True).over(w))
    out = u.filter(F.col("_is_left") == 1).select(
        *pcols,
        F.col("_t").alias(left_ts),
        *[F.col(c) for c in lcols],
        *[F.col(f"_r_{c}").alias(f"asof_{c}") for c in value_cols],
    )
    return out


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    on: str,
    salt_buckets: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-mitigating equi-join: the fact side gets a random-ish salt
    (hash of a unique row, modulo buckets), the dim side is replicated
    once per salt value, and the join runs on (key, salt) — splitting a
    hot key across ``salt_buckets`` tasks.

    AQE's skew-join handles most cases at runtime
    (``spark.sql.adaptive.skewJoin.enabled`` is on in the session
    factory); this explicit form is for the pathological keys AQE can't
    split (e.g. a single key bigger than every other partition) and for
    engines/paths where AQE is off. Result is identical to a plain join
    (asserted by tests)."""
    # pmod, not abs(hash) % n: hash() can return Integer.MIN_VALUE, whose
    # abs overflows and whose % keeps the sign — a negative salt would
    # silently drop ~1 row per 2^32 from an inner join at scale.
    salt = F.pmod(F.hash(*[F.col(c) for c in fact.columns]), F.lit(salt_buckets)).alias(
        "_salt"
    )
    salted_fact = fact.withColumn("_salt", salt)
    exploded_dim = dim.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)))
    )
    return salted_fact.join(exploded_dim, on=[on, "_salt"], how=how).drop("_salt")


def top_k_per_group(
    df: DataFrame,
    group_cols: Sequence[str],
    order_cols: Sequence,
    k: int,
    rank_alias: str = "rn",
) -> DataFrame:
    """Top-K per group via row_number ≤ K. ``order_cols`` must end with a
    unique tie-breaker for deterministic results."""
    w = Window.partitionBy(*group_cols).orderBy(*order_cols)
    return df.withColumn(rank_alias, F.row_number().over(w)).filter(
        F.col(rank_alias) <= k
    )
