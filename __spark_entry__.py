"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All queries live in ``rds_to_datalake_project_spark.plans`` — this
module is a thin adapter over that registry.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _configure(spark: SparkSession) -> SparkSession:
    """Apply engine session conf to a driver-provided session."""
    conf = {
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.sources.partitionOverwriteMode": "dynamic",
        "spark.sql.sources.partitionColumnTypeInference.enabled": "false",
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
        "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    }
    for k, v in conf.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # static conf on a live session — best effort
            pass
    return spark


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    Q3 shipping-priority: 3-way join (one broadcast) + decimal-exact
    aggregation + deterministic top-k — exercises scan, filter
    pushdown, join strategy, agg, and sort in one plan.
    """
    from rds_to_datalake_project_spark.plans.registry import QUERIES

    _configure(spark)
    return QUERIES["q3_shipping_priority"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    from rds_to_datalake_project_spark.plans.registry import QUERIES

    return {
        name: (lambda spark, sf_dir, _fn=fn: _fn(_configure(spark), sf_dir))
        for name, fn in QUERIES.items()
    }


def oracle_sql() -> dict[str, str]:
    """DuckDB twin SQL for each hash-checkable query; ops with no
    cross-engine twin (xxhash64-based fuzzy dedup) are omitted and get
    rows-only checks."""
    from rds_to_datalake_project_spark.plans.registry import ORACLES

    return dict(ORACLES)
