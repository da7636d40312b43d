"""functions/localrel.local_frame: the Arrow-backed result frame.

It must return what ``spark.createDataFrame(rows, schema)`` (the RDD
path) returns, row for row and with the same schema, while collecting
without a Spark job. A source scan keeps new result frames from
drifting back to a literal-planned or RDD-backed path.
"""

from __future__ import annotations

import ast
import datetime as dt
import math
from decimal import Decimal
from pathlib import Path

from pyspark.sql import types as T

from rds_to_datalake_project_spark.functions.localrel import local_frame

PKG = Path(__file__).resolve().parents[1] / "rds_to_datalake_project_spark"

_ALL_TYPES = (
    "s string, b bigint, i int, f boolean, d double, ts timestamp, "
    "day date, amt decimal(12,3), vec array<double>, raw binary, "
    "gone string"
)


def _jobs(spark, fn):
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    j0 = sched.nextJobId()
    out = fn()
    return sched.nextJobId() - j0, out


def _norm(rows):
    """Rows as comparable tuples: NaN equals NaN, bytes are bytes."""

    def v(x):
        if isinstance(x, float) and math.isnan(x):
            return "NaN"
        if isinstance(x, (bytes, bytearray)):
            return bytes(x)
        if isinstance(x, list):
            return tuple(v(e) for e in x)
        return x

    return [tuple(v(x) for x in r) for r in rows]


def _jvm_schema(df) -> T.StructType:
    # the schema Spark itself planned, not the Python-side copy
    return T._parse_datatype_json_string(df._jdf.schema().json())


def _assert_same(spark, rows, schema):
    ref = spark.createDataFrame(rows, schema)
    got = local_frame(spark, rows, schema)
    want_schema = (
        T._parse_datatype_string(schema) if isinstance(schema, str) else schema
    )
    assert got.schema == want_schema
    assert _jvm_schema(got) == want_schema == _jvm_schema(ref)
    assert _norm(got.collect()) == _norm(ref.collect())
    return got


def _typed_rows(n):
    return [
        (
            f"k{i}-é",
            2**40 + i,
            -i,
            i % 2 == 0,
            float("nan") if i == 3 else i / 7,
            dt.datetime(2024, 1, 1, 12, 30) + dt.timedelta(seconds=i, microseconds=i),
            dt.date(2024, 2, 29) + dt.timedelta(days=i),
            Decimal(f"{i}.125"),
            [float(i), None, -0.5],
            bytes([i, 255 - i]),
            None,
        )
        for i in range(n)
    ]


def test_local_frame_matches_rdd_path_for_every_type(spark):
    _assert_same(spark, _typed_rows(16), _ALL_TYPES)
    # an all-NULL row beside typed ones, and zero rows
    _assert_same(spark, _typed_rows(2) + [(None,) * 11], _ALL_TYPES)
    empty = _assert_same(spark, [], _ALL_TYPES)
    assert empty.count() == 0


def test_local_frame_keeps_a_query_schema_with_non_nullable_fields(spark):
    # the governance roundtrips re-emit collected rows under the
    # query's own schema, whose count column is NOT NULL
    out = spark.createDataFrame(
        [("a", 1.5), ("b", None), ("a", 2.0)], "k string, x double"
    ).groupBy("k").agg({"*": "count", "x": "sum"}).orderBy("k")
    schema = out.schema
    assert any(not f.nullable for f in schema.fields)
    got = _assert_same(spark, out.collect(), schema)
    assert [f.nullable for f in _jvm_schema(got).fields] == [
        f.nullable for f in schema.fields
    ]


def test_result_frames_collect_without_a_spark_job(spark, tmp_path):
    from rds_to_datalake_project_spark.operators.upsert import KeyedTable
    from rds_to_datalake_project_spark.schema import TableSpec
    from rds_to_datalake_project_spark.sql import run_query

    spec = TableSpec(
        "lr", record_key=("id",), precombine_key="v", partition_granularity=None
    )
    t = KeyedTable(spark, str(tmp_path / "lr"), spec, retain_versions=5)

    def mk(ids):
        return spark.createDataFrame(
            [(f"k{i}", i) for i in ids], "id string, v long"
        )

    t.initial_load(mk(range(10)))
    t.upsert(mk(range(10, 15)))
    t.upsert(mk(range(15, 20)))
    reg = {"lr": t}

    hist = run_query(spark, "DESCRIBE HISTORY lr", tables=reg)
    jobs, rows = _jobs(spark, hist.collect)
    assert jobs == 0 and len(rows) == len(t.describe_history()) >= 2

    status = run_query(spark, "VACUUM lr RETAIN 1 VERSIONS", tables=reg)
    jobs, rows = _jobs(spark, status.collect)
    assert jobs == 0 and rows[0].table_name == "lr"

    wide = ", ".join(f"c{j} bigint" for j in range(10))
    big = local_frame(
        spark, [tuple(i * 10 + j for j in range(10)) for i in range(1000)], wide
    )
    jobs, rows = _jobs(spark, big.collect)
    assert jobs == 0 and len(rows) == 1000 and rows[-1].c9 == 9999


def test_result_frames_have_one_constructor():
    """No ``literal_frame`` name anywhere in the package, and no
    ``.createDataFrame(`` call outside functions/localrel.py."""
    bad = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        for node in ast.walk(ast.parse(path.read_text(), filename=rel)):
            name = (
                node.id if isinstance(node, ast.Name)
                else node.attr if isinstance(node, ast.Attribute)
                else node.name if isinstance(node, (ast.alias, ast.FunctionDef))
                else None
            )
            if name and "literal_frame" in name:
                bad.append(f"{rel}:{node.lineno} {name}")
            if (
                rel != "functions/localrel.py"
                and isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
            ):
                bad.append(f"{rel}:{node.lineno} .createDataFrame(")
    assert not bad, bad
