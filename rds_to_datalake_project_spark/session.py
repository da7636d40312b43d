"""SparkSession factory.

Replaces the reference's Glue job bootstrap (reference:
glue_jobs/initial_load.py:22-34 — SparkSession + Kryo serializer conf;
rds_to_datalake/glue_job.py:93 — job-level Spark conf) with one
config-driven factory suitable for local[N] tests and a real cluster.

Scale posture (100 TB target):
- AQE on: runtime coalescing of shuffle partitions + skew-join
  splitting replace hand-tuned partition counts.
- shuffle.partitions defaults to the local core count for tests;
  on a cluster this is overridden (or left to AQE's coalescing).
- Arrow enabled so any Pandas-UDF escape hatch is vectorized.
- session timezone pinned to UTC so timestamp semantics match the
  DuckDB oracle and are cluster-independent.
"""

from __future__ import annotations

import contextvars
import os
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import SparkSession
from pyspark.util import inheritable_thread_target


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def _nofork_fs_jar() -> str | None:
    """Path to the compiled no-fork local FileSystem jar
    (tools/fsjava — see its sources), or None when absent. Without
    libhadoop, stock Hadoop applies every created file's permission by
    fork+exec of /bin/chmod, which serializes multi-file writes (a
    256-dir partitioned parquet write spends ~6 s forking chmod for
    ~0.5 s of writing). The jar registers a LocalFileSystem whose raw
    layer no-ops setPermission — file:// scheme only; real schemes
    (hdfs://, s3a://) are untouched, and a driver-provided session
    (no jar on its classpath) keeps stock behavior."""
    if os.environ.get("SPARK_GRAFT_NO_CHMOD", "1") != "1":
        return None
    jar = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools",
        "fsjava",
        "sparkgraft-fs.jar",
    )
    return jar if os.path.exists(jar) else None


def get_spark(
    app_name: str = "rds_to_datalake_project_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the SparkSession with engine defaults.

    ``master=None`` defers to an existing session / spark-submit; tests
    pass ``local[N]``.
    """
    cpus = default_parallelism()
    builder = SparkSession.builder.appName(app_name)
    if master is None and SparkSession.getActiveSession() is None:
        master = f"local[{cpus}]"
    if master is not None:
        builder = builder.master(master)

    conf = {
        # Reference keeps Kryo (glue_jobs/initial_load.py:27-29).
        "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.shuffle.partitions": str(shuffle_partitions or cpus),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # Partitioned upsert rewrites must only replace touched partitions.
        "spark.sql.sources.partitionOverwriteMode": "dynamic",
        # Partition path values are zero-padded strings by contract
        # (reference layout year=2024/month=01/...). Inference would
        # read them back as ints, drifting the schema between write
        # and read ("01" -> 1 -> new partition "1" on next upsert).
        "spark.sql.sources.partitionColumnTypeInference.enabled": "false",
        # Files: pack small CDC files into sane input splits.
        "spark.sql.files.maxPartitionBytes": "134217728",
        "spark.sql.parquet.compression.codec": "snappy",
        # Parquet TIMESTAMP(NANOS) (written by e.g. pandas/arrow) is
        # unreadable by Spark's vectorized reader unless surfaced as
        # long; catalog.load_table converts it back to a timestamp.
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        # Naive parquet timestamps (no tz) must read as TIMESTAMP in
        # the UTC session, not TIMESTAMP_NTZ: NTZ breaks unix_micros &
        # friends, and UTC-instant semantics match the DuckDB oracle.
        "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
        # Timestamps as INT64 microseconds, not Spark's INT96 default:
        # INT96 footers carry no min/max, and zone pruning reads the
        # footers (operators/zonemap). Older INT96 files stay readable;
        # they are never pruned on a timestamp column.
        "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
        # Local mode = driver JVM is the only executor: PySpark's 1g
        # driver-memory default GC-thrashes a multi-query session long
        # before data size matters (heavy lifecycle rows measured 3-6x
        # slower late in a bench run than standalone). Static conf —
        # only effective when THIS factory launches the JVM; a driver-
        # provided session keeps its own sizing.
        "spark.driver.memory": os.environ.get(
            "SPARK_GRAFT_DRIVER_MEM", "16g"
        ),
        "spark.ui.enabled": "false",
        # Reading a directory tree with more than this many paths
        # launches a Spark LISTING JOB (InMemoryFileIndex's parallel
        # discovery; stock threshold 32). Every bucketed store/sidecar
        # here has 64-256 hash dirs, so each analysis paid ~0.2-0.5 s
        # of job-launch latency to list dirs the driver walks in
        # microseconds on a local FS — a matview build profile showed
        # several such jobs per refresh (r13 event-log profile). Local
        # default keeps listings driver-side; on object stores (s3a://)
        # driver-side listing of huge trees is the known anti-pattern
        # (guide §7.3 "listLeafFiles"), so cluster deployments should
        # set SPARK_GRAFT_LIST_JOB_THRESHOLD back to Spark's 32 (or
        # size it to their store's list throughput).
        "spark.sql.sources.parallelPartitionDiscovery.threshold":
            os.environ.get("SPARK_GRAFT_LIST_JOB_THRESHOLD", "4096"),
    }
    jar = _nofork_fs_jar()
    if (
        jar is not None
        and SparkSession.getActiveSession() is None
        and (master or "").startswith("local")
    ):
        # Static confs — only effective when THIS factory launches the
        # JVM; an existing session keeps whatever classpath it has (and
        # must NOT be pointed at a class it cannot load).
        conf["spark.driver.extraClassPath"] = jar
        conf["spark.hadoop.fs.file.impl"] = "sparkgraft.NoForkLocalFileSystem"
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


# Callers hand pmap a few driver-synchronized steps (per-table change
# scans, a commit's table services): one thread each, and a cap well
# above any caller's count rather than a knob.
_PMAP_MAX_THREADS = 8


def pmap(spark: SparkSession, fn, items) -> list:
    """``[fn(x) for x in items]`` with the calls running CONCURRENTLY,
    so one call's Spark jobs overlap the others' driver gaps. Results
    keep item order; the first error propagates (callers that must
    isolate failures catch inside ``fn``). One item, or none, runs
    inline with no pool.

    Each call runs on a pool thread that first takes on a clone of the
    CALLER's Spark local properties (``inheritable_thread_target``):
    job group, job description and scheduler pool follow the work, so
    a job-group profile or cancellation still covers it. The clone is
    per call — ``SQLExecution`` sets its execution id as a local
    property, so two threads must never share one properties object.
    Each call also runs in a copy of the caller's ``contextvars``
    context, so per-operation accumulators bound by the caller (see
    ``matview._SCAN``) still see the work done on its behalf."""
    items = list(items)
    if len(items) <= 1:
        return [fn(x) for x in items]
    with ThreadPoolExecutor(
        max_workers=min(_PMAP_MAX_THREADS, len(items)), thread_name_prefix="spark-pmap"
    ) as pool:
        futures = [
            pool.submit(
                contextvars.copy_context().run, inheritable_thread_target(spark)(fn), x
            )
            for x in items
        ]
        return [f.result() for f in futures]
