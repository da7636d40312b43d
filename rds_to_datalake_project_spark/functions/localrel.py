"""Small driver-side frames as Arrow-backed local relations.

``spark.createDataFrame(python_list)`` is RDD-backed: every action on
the frame, or on any larger plan that contains it, starts a Python
worker to re-pickle the rows (guide §4 "the Python boundary"). Facade
verb results, sidecar codebook parts and the delta-view store publish
need no RDD: :func:`local_frame` hands Spark one ``pyarrow.Table``,
which it plans as a ``LocalRelation``. Collecting it runs no Spark job,
and building it costs one Arrow batch, not one planned literal per
value.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """``spark.createDataFrame(rows, schema)`` as a ``LocalRelation``:
    the rows (tuples or Rows, in schema order) become one
    ``pyarrow.Table`` typed by ``schema`` (a DDL string or StructType),
    so the frame carries exactly that schema, nullability included.
    Values must already have their column's Python type, as the RDD
    path verifies; naive datetimes read as UTC, the engine's session
    zone."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema)


def widen_if_narrow(rows: DataFrame, min_ratio: float = 0.5) -> DataFrame:
    """Round-robin repartition a COMPUTE-HEAVY input up to the
    session's parallelism — only when its scan is narrower than
    ``min_ratio`` of it. A compacted corpus reads as 1-2 splits, which
    serializes per-row-expensive maps (the ×num_hashes seeded minhash
    signature ran as ONE single-task 12 s job on local[32] — guide
    §2.5 "input skew: repartition immediately after the read"). At
    scale the input already carries enough splits and the payload
    shuffle would be pure cost, so wide inputs pass through untouched
    (guide §2.2: don't add shuffles that move opaque payloads). Row
    set unchanged — placement only."""
    sc = rows.sparkSession.sparkContext
    want = sc.defaultParallelism
    try:
        have = rows.rdd.getNumPartitions()
    except Exception:
        return rows
    if have >= max(1, int(want * min_ratio)):
        return rows
    return rows.repartition(want)
