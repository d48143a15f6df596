"""Output checks: an order-independent digest of a DataFrame that reads
every output column, and the expected digests recorded in
``expected.json``.

The digest is one aggregate: the row count and the sum of
``xxhash64(all columns)`` cast to ``decimal(38,0)`` (a plain ``sum`` of
64-bit hashes overflows under ANSI mode). Every column feeds the hash,
so Catalyst cannot prune any computed column, unlike ``.count()``. The
sum does not depend on row order or partitioning.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

EXPECTED_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")


def _has_map(t: T.DataType) -> bool:
    if isinstance(t, T.MapType):
        return True
    if isinstance(t, T.ArrayType):
        return _has_map(t.elementType)
    if isinstance(t, T.StructType):
        return any(_has_map(f.dataType) for f in t.fields)
    return False


def row_hash(df: DataFrame) -> Column:
    """``xxhash64`` over every column; map-typed columns (which Spark
    cannot hash) go in as their JSON text."""
    cols = []
    for f in df.schema.fields:
        c = F.col(f"`{f.name}`")
        cols.append(F.to_json(c) if _has_map(f.dataType) else c)
    return F.xxhash64(*cols)


def digest(df: DataFrame) -> list:
    """``[rows, checksum]`` of ``df``, computed in one Spark action."""
    r = df.agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(row_hash(df).cast("decimal(38,0)")).alias("sum"),
    ).first()
    return [int(r["rows"]), str(r["sum"] if r["sum"] is not None else 0)]


def load_expected() -> dict:
    with open(EXPECTED_PATH) as f:
        return json.load(f)
