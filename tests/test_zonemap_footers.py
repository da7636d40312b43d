"""Footer zones equal Spark's own per-file aggregates (operators/zonemap).

Zone pruning trusts the min / max / row count every parquet footer
carries. This pins, type by type, that the zones the footer cache
returns are exactly what Spark's per-file ``min`` / ``max`` / ``count``
collect returns, and that the types whose footer statistics are not
covered get no zone, so their files are always read.
"""

from __future__ import annotations

import datetime as dt
import math
from decimal import Decimal

from pyspark.sql import functions as F

from rds_to_datalake_project_spark.operators.zonemap import (
    _norm,
    build_zonemap,
    pruned_read,
    zone_intervals,
    zonemap_stats,
)

COLS = (
    "s string, i int, l long, d double, n int, dec decimal(10,2), "
    "wide decimal(30,4), day date, ts timestamp, f float, p string"
)
ZONED = ["s", "i", "l", "d", "n", "dec", "wide", "day", "ts", "p", "x"]
STRINGS = ["apple", "Zebra", "é", "日本", "naïve", "🙂", "Ωmega", "aÿ"]


def _row(k: int):
    sign = -1 if k % 3 == 0 else 1
    return (
        STRINGS[k % len(STRINGS)] + str(k),
        sign * k * 7,
        sign * k * 10_000_000_000,
        float("nan") if k == 23 else sign * k / 4,
        None,
        Decimal(sign * k * 101) / 100,
        Decimal(sign * k) * Decimal("123456789012345678.1234"),
        dt.date(2020, 1, 1) + dt.timedelta(days=k * 37),
        dt.datetime(2021, 3, 4, 5, 6, 7, k * 1001) + dt.timedelta(hours=k * 13),
        float(k) / 8,
        "b" if k % 2 else "a",
    )


def _append(spark, path, ks, extra=False):
    df = spark.createDataFrame([_row(k) for k in ks], COLS)
    if extra:  # schema evolution: a column older files lack
        df = df.withColumn("x", F.col("l") * 3)
    df.repartition(1).write.mode("append").partitionBy("p").parquet(path)


def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float) and math.isnan(a):
        return math.isnan(b)
    return a == b and type(a) is type(b)


def test_footer_zones_equal_spark_per_file_aggregates(spark, tmp_path):
    path = str(tmp_path / "t")
    _append(spark, path, range(0, 12))
    _append(spark, path, range(12, 30))  # one file carries a NaN double
    _append(spark, path, range(30, 40), extra=True)
    key = "spark.sql.parquet.outputTimestampType"
    old = spark.conf.get(key)
    spark.conf.set(key, "INT96")
    try:
        _append(spark, path, range(40, 44))
    finally:
        spark.conf.set(key, old)
    build_zonemap(spark, path, ZONED + ["f"])

    full = spark.read.option("mergeSchema", "true").parquet(path)
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in ZONED + ["f"]:
        aggs += [F.min(c).alias(f"min_{c}"), F.max(c).alias(f"max_{c}")]
    truth = {
        _norm(r["file"]): r
        for r in full.groupBy(F.input_file_name().alias("file")).agg(*aggs).collect()
    }
    assert len(truth) == 8

    int96 = {
        _norm(r["file"])
        for r in full.filter(F.col("s").rlike("4[0-3]$"))
        .select(F.input_file_name().alias("file"))
        .collect()
    }
    assert len(int96) == 2
    nan_files = {p for p, r in truth.items() if isinstance(r["max_d"], float) and math.isnan(r["max_d"])}
    assert len(nan_files) == 1

    for c in ZONED:
        zones = zone_intervals(spark, path, c)
        expect = set(truth) - (int96 if c == "ts" else set())
        assert set(zones) == expect, c
        for p in expect:
            want = (truth[p][f"min_{c}"], truth[p][f"max_{c}"])
            assert all(map(_same, zones[p], want)), (c, p, zones[p], want)
    # the evolved column is all-NULL in the files that predate it
    assert sum(z == (None, None) for z in zone_intervals(spark, path, "x").values()) == 6
    assert all(z == (None, None) for z in zone_intervals(spark, path, "n").values())

    # no zone: a float column, and the INT96 files' timestamps
    assert zone_intervals(spark, path, "f") == {}
    counts = {_norm(r["file_uri"]): r["n_rows"] for r in zonemap_stats(spark, path).collect()}
    assert counts == {p: r["n_rows"] for p, r in truth.items()}

    # those files are always read, and every pruned read stays exact
    for col, lo, hi in [
        ("f", 1.0, 1.5),
        ("ts", "2021-03-05 00:00:00", "2021-03-07 00:00:00"),
        ("ts", dt.datetime(2021, 3, 24, 0, 0), dt.datetime(2021, 3, 24, 23, 0)),
        ("d", 2.0, 3.0),
        ("d", float("nan"), float("nan")),
        ("dec", Decimal("1.01"), Decimal("5.05")),
        ("wide", Decimal("1000"), None),
        ("day", dt.date(2021, 1, 1), dt.date(2021, 6, 30)),
        ("s", "日", "🙂"),
        ("x", 0, None),
        ("p", "b", "b"),
    ]:
        got = pruned_read(spark, path, {col: (lo, hi)})
        cond = F.lit(True)
        if lo is not None:
            cond = cond & (F.col(col) >= F.lit(lo))
        if hi is not None:
            cond = cond & (F.col(col) <= F.lit(hi))
        want = sorted(r.s for r in full.filter(cond).collect())
        assert sorted(r.s for r in got.collect()) == want, (col, lo, hi)
        if col == "f":
            assert len(set(got.inputFiles())) == len(truth)
        if col == "ts" and isinstance(lo, str):
            assert int96 <= {_norm(f) for f in got.inputFiles()}
