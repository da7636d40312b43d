"""Catalog facade — register lake/test tables as Spark SQL views.

Replaces the reference's Glue-catalog CRUD + Hudi hive_sync
(rds_to_datalake/glue_catalog.py:6-98; glue_jobs/initial_load.py:168-174)
with the Spark catalog: a registered view/table is immediately
queryable via ``spark.sql`` — the whole Athena layer
(rds_to_datalake/athena.py) collapses to that.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from rds_to_datalake_project_spark import fsio

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Columns stored as parquet TIMESTAMP(NANOS): Spark surfaces them as
# long (session conf nanosAsLong) and we restore TimestampType at
# microsecond precision — identical to what DuckDB/arrow readers see.
_NANO_TS_COLS = {"events": ("ts",)}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata/lake parquet table with type normalization."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    for col in _NANO_TS_COLS.get(name, ()):
        if col in df.columns and isinstance(df.schema[col].dataType, T.LongType):
            # integer div — float division would lose precision on
            # 1e18-scale nano values (53-bit double mantissa).
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
    return df


def register_parquet_dir(
    spark: SparkSession,
    sf_dir: str,
    tables: tuple[str, ...] = TESTDATA_TABLES,
) -> dict[str, DataFrame]:
    """Register each ``{sf_dir}/{name}.parquet`` as a temp view."""
    out: dict[str, DataFrame] = {}
    for name in tables:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if not os.path.exists(path):
            continue
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def write_bucketed(
    df: DataFrame,
    name: str,
    bucket_col: str,
    n_buckets: int = 32,
    sort_col: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist a table hash-bucketed by its join key.

    Two tables bucketed on their join key with the same bucket count
    join WITHOUT a shuffle — the co-location the reference gets from
    nothing (it never joins at scale) but a 100 TB lake needs for
    repeated fact-fact joins. Bucket files are the unit of join
    locality; combine with compaction for sizing.
    """
    writer = df.write.mode(mode).format("parquet").bucketBy(n_buckets, bucket_col)
    if sort_col:
        writer = writer.sortBy(sort_col)
    writer.saveAsTable(name)


def register_lake_table(spark: SparkSession, name: str, path: str) -> DataFrame:
    """Expose an upsert-table directory as a queryable view.

    Equivalent of the reference's hive_sync after a Hudi write
    (initial_load.py:168-174): after this, ``SELECT ... FROM name``
    works. Partition discovery is Spark's built-in directory listing.
    Session-scoped; for catalog-persistent registration use
    ``sync_lake_table``.
    """
    df = spark.read.parquet(path)
    df.createOrReplaceTempView(name)
    return df


def sync_lake_table(
    spark: SparkSession,
    name: str,
    path: str,
    partitioned: bool = True,
    database: str = "default",
) -> None:
    """Persist a lake-table directory in the shared catalog
    (hive_sync proper: reference glue_jobs/initial_load.py:168-174,
    rds_to_datalake/glue_catalog.py:6-98).

    Creates an EXTERNAL datasource table (``CREATE TABLE ... USING
    parquet LOCATION``) — visible to every session of the catalog
    (``spark.newSession()`` here; a Hive/Glue metastore in
    production), unlike the temp view from ``register_lake_table``.
    Idempotent: call after every write, like the reference re-syncs
    after each Hudi commit; ``MSCK REPAIR`` picks up partitions added
    since the last sync without listing data files.
    """
    # Qualified name: a session temp view with the same name (e.g.
    # from register_lake_table) would otherwise shadow the catalog
    # table during resolution.
    qname = f"`{database}`.`{name}`"
    spark.sql(f"CREATE TABLE IF NOT EXISTS {qname} USING parquet LOCATION '{path}'")
    if partitioned:
        # Recover partitions added by writes since the last sync.
        spark.sql(f"MSCK REPAIR TABLE {qname}")
    # Invalidate cached file listings from reads before this sync.
    spark.sql(f"REFRESH TABLE {qname}")


def drop_lake_table(
    spark: SparkSession,
    name: str,
    path: str | None = None,
    database: str = "default",
    delete_data: bool = True,
) -> bool:
    """Tear a lake table down: unregister it everywhere and
    (optionally) delete its files.

    PySpark twin of the reference's teardown surface — delete-table-
    if-exists against the Glue catalog
    (rds_to_datalake/glue_catalog.py:48-86) plus the lake-data wipe in
    rds_to_datalake/cleanup.py:11-33. The catalog entry is EXTERNAL
    (``sync_lake_table``), so ``DROP TABLE`` removes only metadata;
    the data dir is deleted through its fsio handle (portable across
    local/HDFS/S3A schemes — an O(1) metadata call plus the store's
    recursive delete, no data is read). Idempotent;
    returns True if anything was removed.

    ``path=None`` resolves the location from the catalog entry before
    dropping it; pass it explicitly for tables never synced.
    """
    qname = f"`{database}`.`{name}`"
    removed = False
    if path is None and spark.catalog.tableExists(name, database):
        rows = spark.sql(f"DESCRIBE TABLE EXTENDED {qname}").collect()
        path = next((r.data_type for r in rows if r.col_name == "Location"), None)
    if spark.catalog.dropTempView(name):
        removed = True
    if spark.catalog.tableExists(name, database):
        spark.sql(f"DROP TABLE {qname}")
        removed = True
    if delete_data and path:
        if fsio.fs_for(spark, path).delete(path, True):
            removed = True
    return removed
