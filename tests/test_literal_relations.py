"""Literal relations: ``catalog.local_relation`` builds every small
driver-side relation (dims, rule lists, empty legs) as a
``LocalRelation``. These tests pin its contract against
``spark.createDataFrame`` and keep the PythonRDD-backed form out of the
engine."""

from __future__ import annotations

import ast
import math
import pathlib

import pytest
from pyspark.sql import types as T

import crypto_data_pipeline_with_kafka_spark as engine
from crypto_data_pipeline_with_kafka_spark.catalog import local_relation

_LEXICON = [(f"tok{i:05d}", (i % 9 - 4) * 0.5 + i * 1e-3) for i in range(7500)]

CASES = {
    "empty": ([], "tag string, k1 string, k2 string, n long, v double"),
    "nulls": (
        [(None, 1, 0.5), ("a", None, None), (None, None, None)],
        "s string, n long, v double",
    ),
    "non_ascii": (
        [("ñandú", 1), ("日本語", 2), ("🚀 moon", 3), ("", 4)],
        "tag_name string, tag_id long",
    ),
    "doubles": (
        [
            (0.1 + 0.2,),
            (-0.0,),
            (1e-308,),
            (5e-324,),
            (math.inf,),
            (-math.inf,),
            (math.nan,),
            (2**53 + 1.0,),
        ],
        "v double",
    ),
    "lexicon": (_LEXICON, "token string, score double"),
    "struct_not_null": (
        [("x", 1), ("y", 2)],
        T.StructType(
            [
                T.StructField("k", T.StringType(), True),
                T.StructField("n", T.LongType(), False),
            ]
        ),
    ),
}


def _bits(rows):
    # repr keeps -0.0 apart from 0.0 and makes NaN equal to itself
    return [tuple(repr(v) for v in r) for r in rows]


@pytest.mark.parametrize("arrow_conf", ["true", "false"])
@pytest.mark.parametrize("case", sorted(CASES))
def test_local_relation_equals_create_dataframe(spark, case, arrow_conf):
    """Same schema (types and nullability) and bitwise-same rows as
    ``spark.createDataFrame``, planned as a ``LocalRelation`` leaf, with
    Arrow conversion on (the engine session) or off (a plain session,
    as a driver that builds its own may have)."""
    rows, schema = CASES[case]
    key = "spark.sql.execution.arrow.pyspark.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, arrow_conf)
    try:
        got = local_relation(spark, rows, schema)
        want = spark.createDataFrame(rows, schema)
        assert got.schema == want.schema
        assert [f.nullable for f in got.schema] == [f.nullable for f in want.schema]
        assert _bits(got.collect()) == _bits(want.collect())
        plan = got._jdf.queryExecution().optimizedPlan()
        assert plan.nodeName() == "LocalRelation", plan.toString()
    finally:
        spark.conf.set(key, prev)


def _create_dataframe_calls(path: pathlib.Path):
    """(line, enclosing top-level function) of every ``.createDataFrame(``
    call in one module."""
    tree = ast.parse(path.read_text(), filename=str(path))
    out = []
    for top in tree.body:
        for node in ast.walk(top):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
            ):
                owner = top.name if isinstance(top, ast.FunctionDef) else None
                out.append((node.lineno, owner))
    return out


def test_no_create_dataframe_outside_local_relation():
    """``spark.createDataFrame(<list>)`` plans a PythonRDD scan (a hidden
    Python-worker stage per scan); the engine builds literal relations
    through ``catalog.local_relation`` only."""
    root = pathlib.Path(engine.__file__).parent
    stray = [
        f"{path.relative_to(root.parent)}:{line}"
        for path in sorted(root.rglob("*.py"))
        for line, owner in _create_dataframe_calls(path)
        if not (path.name == "catalog.py" and owner == "local_relation")
    ]
    assert not stray, stray
