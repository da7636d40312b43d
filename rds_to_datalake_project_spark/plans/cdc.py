"""CDC-pipeline query surface (SURVEY.md §2 core operators W1/P1/S4/
S8/S9), exposed over the driver's ``events`` table.

``events`` plays the CDC log: ``user_id`` is the record key, ``ts``
orders versions (composite with ``event_id`` for total order), and the
ISO string twin columns reproduce the reference's
timestamps-as-strings contract (FIXTURES.md §1).
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rds_to_datalake_project_spark.functions.localrel import local_frame

from rds_to_datalake_project_spark.catalog import load_table
from rds_to_datalake_project_spark.operators.dedup import latest_version_per_key
from rds_to_datalake_project_spark.operators.enrich import add_time_partitions
from rds_to_datalake_project_spark.operators.upsert import KeyedTable
from rds_to_datalake_project_spark.schema import TableSpec
from rds_to_datalake_project_spark.sources.dynamodb_json import decode_dynamodb_items

ISO_FMT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS+00:00"


def _scratch(name: str) -> str:
    """Fixed per-query scratch dir, cleared at the START of each run.

    A fresh ``mkdtemp`` per invocation leaks a full table copy every
    driver/bench round (r4 ADVICE); a fixed path is overwritten
    instead. Cleared eagerly (not on exit) because the returned
    DataFrames are lazy — the driver collects them after the query
    function returns, so the files must outlive the call."""
    # Per-PID root: two engine processes (a bench and a correctness
    # sweep) sharing one scratch dir would delete each other's live
    # fixtures mid-read — an orchestration-only hazard, but a real one.
    root = os.path.join(
        tempfile.gettempdir(), f"sg_scratch_{os.getpid()}", name
    )
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root, exist_ok=True)
    return root


def _events_as_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → CDC-shaped frame: id/create_at/update_at contract.

    update_at = ISO ts + zero-padded event_id: a strictly-unique,
    lexicographically-ordered version string (precombine key), exactly
    the reference's string-timestamp ordering contract.
    """
    ev = load_table(spark, sf_dir, "events")
    iso = F.date_format("ts", ISO_FMT)
    return ev.select(
        F.col("user_id").cast("string").alias("id"),
        F.concat_ws("#", iso, F.lpad(F.col("event_id").cast("string"), 12, "0")).alias(
            "update_at"
        ),
        "event_id",
        "user_id",
        "ts",
        "event_type",
        "value",
    )


# --- W1: latest version per key ----------------------------------------------

def dedup_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    out = latest_version_per_key(ev, ["user_id"], "ts", tie_breakers=["event_id"])
    return out.select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        "event_type",
        "value",
    ).orderBy("user_id")


DEDUP_SQL = """
SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type, value
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                               ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
WHERE rn = 1
ORDER BY user_id
"""


# --- P1: time-partition enrichment -------------------------------------------

def partition_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    out = add_time_partitions(ev, "ts", granularity="minute", prefix="ts")
    return out.select(
        "event_id", "ts_year", "ts_month", "ts_day", "ts_hour", "ts_minute"
    ).orderBy("event_id")


ENRICH_SQL = """
SELECT event_id,
       strftime(ts, '%Y') AS ts_year,
       strftime(ts, '%m') AS ts_month,
       strftime(ts, '%d') AS ts_day,
       strftime(ts, '%H') AS ts_hour,
       strftime(ts, '%M') AS ts_minute
FROM events
ORDER BY event_id
"""

# String-contract variant: enrich from an ISO-8601 string column by
# fixed-offset substring, byte-for-byte the reference's P1
# (initial_load.py:129-150).

def partition_enrich_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    cdc = _events_as_cdc(spark, sf_dir)
    iso = F.date_format("ts", ISO_FMT)
    df = cdc.withColumn("create_at", iso)
    out = add_time_partitions(df, "create_at", granularity="minute")
    return out.select(
        "event_id", "create_year", "create_month", "create_day", "create_hour", "create_minute"
    ).orderBy("event_id")


ENRICH_STRING_SQL = """
SELECT event_id,
       substring(strftime(ts, '%Y-%m-%dT%H:%M:%S.%f+00:00'), 1, 4)  AS create_year,
       substring(strftime(ts, '%Y-%m-%dT%H:%M:%S.%f+00:00'), 6, 2)  AS create_month,
       substring(strftime(ts, '%Y-%m-%dT%H:%M:%S.%f+00:00'), 9, 2)  AS create_day,
       substring(strftime(ts, '%Y-%m-%dT%H:%M:%S.%f+00:00'), 12, 2) AS create_hour,
       substring(strftime(ts, '%Y-%m-%dT%H:%M:%S.%f+00:00'), 15, 2) AS create_minute
FROM events
ORDER BY event_id
"""


# --- S8+S9: full initial-load → CDC-upsert round trip -------------------------

def cdc_upsert_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split events at the time median into snapshot + CDC batch, run
    the real pipeline (initial_load then upsert), read the table back.

    The result must equal "latest version per user over ALL events" —
    which is exactly what the SQL oracle states. This hash-checks the
    whole upsert path end-to-end, not a reimplementation of it.
    """
    cdc_all = _events_as_cdc(spark, sf_dir)
    cutoff = "2024-01-15T00:00:00"
    iso = F.date_format("ts", ISO_FMT)
    snapshot = cdc_all.filter(iso < cutoff)
    batch = cdc_all.filter(iso >= cutoff).withColumn("Op", F.lit("U"))

    spec = TableSpec(
        "events_upsert",
        record_key=("id",),
        precombine_key="update_at",
        partition_granularity=None,  # version rows move in time → unpartitioned
    )
    table = KeyedTable(spark, _scratch("upsert_rt") + "/t", spec)
    table.initial_load(snapshot)
    table.upsert(batch)
    out = table.read()
    return out.select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        "event_type",
        "value",
    ).orderBy("user_id")


# Oracle: identical to W1 dedup over the full log — upsert(initial ∪
# cdc) must converge to the same latest-version state (ST7).
UPSERT_RT_SQL = DEDUP_SQL


# --- multi-writer commit safety (optimistic concurrency) ----------------------

def _concurrent_upsert_fixture(spark: SparkSession, sf_dir: str):
    """TWO independent writers upsert disjoint key slices of the CDC
    log into the SAME table from two threads — the lost-update setup
    the optimistic commit protocol (operators/upsert.py commit token +
    mutex) exists for. Key-disjoint slices make the merges commutative,
    so the converged state is deterministic regardless of which writer
    wins each race; the oracle is the same latest-version-per-key SQL
    as the single-writer roundtrip. The reference runs one Glue job
    per table and has no concurrency story — this is the engine
    extension that makes N parallel ingestion jobs safe."""
    import threading

    cdc_all = _events_as_cdc(spark, sf_dir)
    cutoff = "2024-01-15T00:00:00"
    iso = F.date_format("ts", ISO_FMT)
    snapshot = cdc_all.filter(iso < cutoff)
    late = cdc_all.filter(iso >= cutoff).withColumn("Op", F.lit("U"))
    spec = TableSpec(
        "events_cc",
        record_key=("id",),
        precombine_key="update_at",
        partition_granularity=None,
    )
    root = _scratch("concurrent_upsert") + "/t"
    KeyedTable(spark, root, spec).initial_load(snapshot)

    slice_col = F.pmod(F.xxhash64("id"), F.lit(2))
    errors: list = []

    def writer(k: int):
        t = KeyedTable(
            spark, root, spec, commit_retries=20, orphan_staging_grace_s=600
        )
        try:
            t.upsert(late.filter(slice_col == k))
        except BaseException as exc:  # re-raised on the driver thread
            errors.append(exc)

    threads = [threading.Thread(target=writer, args=(k,)) for k in (0, 1)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    if errors:
        raise errors[0]
    return root, spec


def _concurrent_upsert_serve(spark: SparkSession, sf_dir: str, fixture) -> DataFrame:
    root, spec = fixture
    out = KeyedTable(spark, root, spec).read()
    return out.select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        "event_type",
        "value",
    ).orderBy("user_id")


def concurrent_upsert_convergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _concurrent_upsert_serve(
        spark, sf_dir, _concurrent_upsert_fixture(spark, sf_dir)
    )


CONCURRENT_UPSERT_SQL = DEDUP_SQL


# --- S4: DynamoDB-JSON decode --------------------------------------------------

def dynamodb_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wire-format encode → declarative decode round trip on orders.

    Builds the ``{"Item": {"f": {"S"|"N": "..."}}}`` envelope
    (README.rst:149-154 format) from the orders table, then decodes it
    with the engine's from_json transform. Only integer/string fields
    go on the wire (double→string rendering differs across engines).
    """
    o = load_table(spark, sf_dir, "orders")
    wire = F.concat(
        F.lit('{"Item":{"orderkey":{"N":"'),
        F.col("o_orderkey").cast("string"),
        F.lit('"},"custkey":{"N":"'),
        F.col("o_custkey").cast("string"),
        F.lit('"},"status":{"S":"'),
        F.col("o_orderstatus"),
        F.lit('"},"priority":{"S":"'),
        F.col("o_orderpriority"),
        F.lit('"}}}'),
    )
    encoded = o.select(wire.alias("item_json"))
    decoded = decode_dynamodb_items(
        encoded,
        fields={
            "orderkey": ("N", "bigint"),
            "custkey": ("N", "bigint"),
            "status": ("S", None),
            "priority": ("S", None),
        },
    )
    return decoded.orderBy("orderkey")


DYNAMODB_SQL = """
WITH wire AS (
  SELECT concat('{"Item":{"orderkey":{"N":"', CAST(o_orderkey AS VARCHAR),
                '"},"custkey":{"N":"', CAST(o_custkey AS VARCHAR),
                '"},"status":{"S":"', o_orderstatus,
                '"},"priority":{"S":"', o_orderpriority, '"}}}') AS item_json
  FROM orders
)
SELECT CAST(json_extract_string(item_json, '$.Item.orderkey.N') AS BIGINT) AS orderkey,
       CAST(json_extract_string(item_json, '$.Item.custkey.N') AS BIGINT) AS custkey,
       json_extract_string(item_json, '$.Item.status.S') AS status,
       json_extract_string(item_json, '$.Item.priority.S') AS priority
FROM wire
ORDER BY orderkey
"""


# --- ST8: tumbling-window event counts (batch twin of the stream) ------------

def windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rds_to_datalake_project_spark.streaming.pipeline import windowed_event_counts

    ev = load_table(spark, sf_dir, "events")
    out = windowed_event_counts(ev, "ts", "1 hour")
    return out.select(
        F.unix_micros(F.col("window_start")).alias("win_start_us"),
        "event_type",
        "n_events",
    ).orderBy("win_start_us", "event_type")


WINDOWED_COUNTS_SQL = """
SELECT epoch_us(time_bucket(INTERVAL '1 hour', ts)) AS win_start_us,
       event_type,
       COUNT(*) AS n_events
FROM events
GROUP BY 1, 2
ORDER BY win_start_us, event_type
"""


# --- A6: max-timestamp watermark per table/day --------------------------------

def watermark_per_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .agg(
            F.max(F.unix_micros(F.col("ts"))).alias("high_watermark_us"),
            F.count("*").alias("n_events"),
        )
        .orderBy("day")
    )


WATERMARK_SQL = """
SELECT strftime(ts, '%Y-%m-%d') AS day,
       MAX(epoch_us(ts)) AS high_watermark_us,
       COUNT(*) AS n_events
FROM events
GROUP BY 1
ORDER BY day
"""


# --- F7: JSON prop extraction over the events stream --------------------------

def events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode the ``props`` JSON-string column (F7 from_json surface)
    and aggregate the extracted field per event type."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


EVENTS_JSON_SQL = """
SELECT event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
       MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
FROM events
GROUP BY event_type
ORDER BY event_type
"""


# --- S3+S10: partitioned JSON-lines sink → source round trip ------------------

def jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write events as hive-partitioned JSON-lines (S10, the DynamoDB
    stream consumer's sink layout dynamodb_stream_consumer.py:74-90),
    read them back (S3), and aggregate per partition day.

    The oracle aggregates the source directly — hash equality proves
    the sink→source round trip is lossless for the carried columns.
    """
    ev = load_table(spark, sf_dir, "events")
    out_dir = _scratch("jsonl_rt") + "/events_jsonl"
    staged = (
        add_time_partitions(ev, "ts", granularity="day", prefix="p")
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.unix_micros(F.col("ts")).alias("ts_us"),
            "p_year", "p_month", "p_day",
        )
    )
    staged.write.mode("overwrite").partitionBy("p_year", "p_month", "p_day").json(out_dir)
    back = spark.read.json(
        out_dir,
        schema=(
            "event_id BIGINT, user_id BIGINT, event_type STRING, ts_us BIGINT, "
            "p_year STRING, p_month STRING, p_day STRING"
        ),
    )
    return (
        back.groupBy("p_year", "p_month", "p_day")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("event_id").alias("sum_event_id"),
            F.max("ts_us").alias("max_ts_us"),
        )
        .orderBy("p_year", "p_month", "p_day")
    )


JSONL_RT_SQL = """
SELECT strftime(ts, '%Y') AS p_year,
       strftime(ts, '%m') AS p_month,
       strftime(ts, '%d') AS p_day,
       COUNT(*) AS n_events,
       CAST(SUM(event_id) AS BIGINT) AS sum_event_id,
       MAX(epoch_us(ts)) AS max_ts_us
FROM events
GROUP BY 1, 2, 3
ORDER BY p_year, p_month, p_day
"""


# --- ST9: delete-aware upsert round trip --------------------------------------

def delete_apply_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC stream with deletes: 'error' events are Op=D tombstones for
    their user. Run initial-load + upsert with delete_mode="apply";
    the surviving state must equal "users whose latest event is not an
    error" — which is what the oracle asserts. Valid because the split
    is time-ordered (no out-of-order tombstones across batches)."""
    cdc_all = _events_as_cdc(spark, sf_dir).withColumn(
        "Op", F.when(F.col("event_type") == "error", "D").otherwise("U")
    )
    cutoff = "2024-01-15T00:00:00"
    iso = F.date_format("ts", ISO_FMT)
    snapshot = cdc_all.filter(iso < cutoff)
    batch = cdc_all.filter(iso >= cutoff)

    spec = TableSpec(
        "events_del",
        record_key=("id",),
        precombine_key="update_at",
        partition_granularity=None,
    )
    table = KeyedTable(spark, _scratch("del_rt") + "/t", spec)
    table.initial_load(snapshot, delete_mode="apply")
    table.upsert(batch, delete_mode="apply")
    return (
        table.read()
        .select(
            "user_id",
            "event_id",
            F.unix_micros(F.col("ts")).alias("ts_us"),
            "event_type",
        )
        .orderBy("user_id")
    )


DELETE_APPLY_SQL = """
SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                               ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
WHERE rn = 1 AND event_type <> 'error'
ORDER BY user_id
"""


# --- sessionization (stateful-op batch twin; streaming/sessionize.py) ---------

def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rds_to_datalake_project_spark.streaming.sessionize import sessionize

    ev = load_table(spark, sf_dir, "events")
    out = sessionize(ev, "user_id", "ts", gap_minutes=30)
    return out.select(
        "user_id",
        F.unix_micros(F.col("session_start")).alias("session_start_us"),
        F.unix_micros(F.col("session_end")).alias("session_end_us"),
        "n_events",
    ).orderBy("user_id", "session_start_us")


SESSIONIZE_SQL = """
WITH marked AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS is_start
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sid AS (
  SELECT user_id, ts,
         SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS s
  FROM marked
)
SELECT user_id,
       epoch_us(MIN(ts)) AS session_start_us,
       epoch_us(MAX(ts)) AS session_end_us,
       COUNT(*) AS n_events
FROM sid
GROUP BY user_id, s
ORDER BY user_id, session_start_us
"""


# --- as-of join (point-in-time lookup; DuckDB native ASOF JOIN oracle) --------

def asof_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every purchase event, the user's profile state as of the
    purchase: the latest prior-or-equal signup event's value. The CDC
    lake's canonical historical query (the upsert table alone cannot
    answer it — it keeps only the final version)."""
    from rds_to_datalake_project_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    versions = ev.filter(F.col("event_type") == "signup").select(
        "user_id", F.col("ts").alias("vts"), F.col("value").alias("profile_value")
    )
    out = asof_join(
        purchases, versions, on="user_id", left_ts="ts", right_ts="vts",
        payload_cols=["profile_value"], how="left",
    )
    return out.select(
        "event_id", "user_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        "value", "profile_value",
    ).orderBy("event_id")


ASOF_SQL = """
SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us, p.value,
       v.profile_value
FROM (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT user_id AS v_user, ts AS vts, value AS profile_value
                FROM events WHERE event_type = 'signup') v
  ON p.user_id = v.v_user AND p.ts >= v.vts
ORDER BY event_id
"""


# --- hypertable rollup (continuous aggregate; incremental refresh) ------------

def hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split events at a cutoff, full-refresh the rollup on the old
    slice, then incrementally refresh with the new slice — the result
    must equal a direct aggregation over ALL events (the oracle). This
    hash-checks the touched-bucket refresh path end to end."""
    from rds_to_datalake_project_spark.operators.rollup import RollupTable

    ev = load_table(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-15 00:00:00").cast("timestamp")
    old, new = ev.filter(F.col("ts") < cutoff), ev.filter(F.col("ts") >= cutoff)

    roll = RollupTable(
        spark,
        _scratch("rollup") + "/t",
        ts_col="ts",
        window="1 hour",
        dims=("event_type",),
        aggs={
            "n_events": F.count("*"),
            "sum_value": F.sum(F.col("value").cast("decimal(38,6)")).cast("double"),
            "max_value": F.max("value"),
        },
    )
    roll.full_refresh(old)
    roll.incremental_refresh(ev, new)
    return roll.read().select(
        F.unix_micros(F.col("bucket_start")).alias("bucket_us"),
        "event_type", "n_events", "sum_value", "max_value",
    ).orderBy("bucket_us", "event_type")


ROLLUP_SQL = """
SELECT epoch_us(time_bucket(INTERVAL '1 hour', ts)) AS bucket_us,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value,
       MAX(value) AS max_value
FROM events
GROUP BY 1, 2
ORDER BY bucket_us, event_type
"""


# --- J2: differential comparator as a lake-scale report -----------------------

def table_diff_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-row diff of a source table vs a 'lake' copy with
    deterministic injected drift (reference compare.py:52-88, but as a
    distributed report instead of a driver-side zip): keys divisible
    by 97 get a mutated o_totalprice, keys divisible by 101 are
    missing from the lake. Every drifted row must surface exactly once
    per side it exists on."""
    from rds_to_datalake_project_spark.operators.compare import diff_report

    cols = ["o_orderkey", "o_totalprice", "o_orderpriority"]
    src = load_table(spark, sf_dir, "orders").select(*cols)
    mutated = src.withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 97 == 0, F.col("o_totalprice") + F.lit(1.0)
        ).otherwise(F.col("o_totalprice")),
    )
    lake = mutated.filter(F.col("o_orderkey") % 101 != 0)
    return diff_report(src, lake).orderBy("o_orderkey", "side")


TABLE_DIFF_SQL = """
WITH src AS (
  SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
), lake AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 97 = 0 THEN o_totalprice + 1.0
              ELSE o_totalprice END AS o_totalprice,
         o_orderpriority
  FROM orders WHERE o_orderkey % 101 <> 0
)
SELECT o_orderkey, o_totalprice, o_orderpriority, side FROM (
  SELECT d.*, 'source' AS side FROM (SELECT * FROM src EXCEPT ALL SELECT * FROM lake) d
  UNION ALL
  SELECT d.*, 'lake' AS side FROM (SELECT * FROM lake EXCEPT ALL SELECT * FROM src) d
)
ORDER BY o_orderkey, side
"""


# --- snapshot retention / time travel (KeyedTable retain_versions) -----------

_VERSIONED_ORDERS: dict[tuple[int, str], KeyedTable] = {}


def _versioned_orders(spark: SparkSession, sf_dir: str) -> KeyedTable:
    """Shared versioned-lake fixture for the time-travel family of
    queries: a retained, month-partitioned orders table with an
    initial load (v0) and two committed upserts —

    - commit 1: keys %3 == 0 repriced +100 (``update_at`` = "v1")
    - commit 2 (delete_mode="apply"):
        * keys %5 == 0 repriced +1000 from BASE ("v2")
        * keys %7 == 0 (and not %5) tombstoned (Op = D)
        * keys %11 == 0 re-inserted as NEW keys (+10 000 000)

    Deterministic, so every consumer's oracle can restate each
    snapshot in closed form over ``orders``. Built once per
    (session, sf_dir) — the three driver queries that read it share
    one physical build."""
    key = (id(spark), sf_dir)
    t = _VERSIONED_ORDERS.get(key)
    if t is not None:
        return t
    cols = ["o_orderkey", "o_orderdate", "o_totalprice", "o_orderpriority"]
    base = load_table(spark, sf_dir, "orders").select(*cols)
    spec = TableSpec(
        "orders_tt",
        record_key=("o_orderkey",),
        precombine_key="update_at",
        partition_source="o_orderdate",
        partition_granularity="month",
    )
    t = KeyedTable(
        spark,
        _scratch("time_travel") + "/t",
        spec,
        retain_versions=3,
    )
    t.initial_load(base.withColumn("update_at", F.lit("v0")))
    b1 = (
        base.filter(F.col("o_orderkey") % 3 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(100.0))
        .withColumn("update_at", F.lit("v1"))
    )
    t.upsert(b1)  # commit 1
    k = F.col("o_orderkey")
    updates = (
        base.filter(k % 5 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(1000.0))
        .withColumn("Op", F.lit("U"))
    )
    deletes = base.filter((k % 7 == 0) & (k % 5 != 0)).withColumn("Op", F.lit("D"))
    inserts = (
        base.filter(k % 11 == 0)
        .withColumn("o_orderkey", k + F.lit(10_000_000))
        .withColumn("Op", F.lit("I"))
    )
    b2 = (
        updates.unionByName(deletes)
        .unionByName(inserts)
        .withColumn("update_at", F.lit("v2"))
    )
    t.upsert(b2, delete_mode="apply")  # commit 2 — retires what it replaces
    _VERSIONED_ORDERS[key] = t
    return t


def time_travel_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the REAL versioned pipeline (shared fixture above), then
    read the table AS OF commit 1. Commit 2 replaced/deleted/created
    partitions after it; the snapshot read must reconstruct the
    pre-commit-2 state exactly, which the oracle states directly over
    orders."""
    return _time_travel_serve(
        spark, sf_dir, _versioned_orders(spark, sf_dir)
    )


def _time_travel_serve(
    spark: SparkSession, sf_dir: str, t: KeyedTable
) -> DataFrame:
    return (
        t.read_as_of(1)
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
        .orderBy("o_orderkey")
    )


TIME_TRAVEL_SQL = """
SELECT o_orderkey,
       CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 100.0
            ELSE o_totalprice END AS o_totalprice,
       o_orderpriority
FROM orders
ORDER BY o_orderkey
"""


# --- RESTORE: rollback-as-a-commit -------------------------------------------

def _restore_fixture(spark: SparkSession, sf_dir: str):
    """A dedicated (half-sized) versioned orders table — the shared
    time-travel fixture must not be mutated by a restore — with the
    same two-commit history shape, then ``restore_to_version(1)``:
    the rollback commits the v1 snapshot as v3 through the regular
    staged publish (commit-2 partitions retired, deleted partitions
    recreated), so the serve reads the LIVE head and must equal the
    closed-form v1 state. Delta RESTORE / Hudi savepoint-rollback
    parity — the reference has no rollback story at all."""
    cols = ["o_orderkey", "o_orderdate", "o_totalprice", "o_orderpriority"]
    base = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 2 == 0
    ).select(*cols)
    spec = TableSpec(
        "orders_restore",
        record_key=("o_orderkey",),
        precombine_key="update_at",
        partition_source="o_orderdate",
        partition_granularity="month",
    )
    t = KeyedTable(
        spark, _scratch("restore_tt") + "/t", spec, retain_versions=4
    )
    t.initial_load(base.withColumn("update_at", F.lit("v0")))
    k = F.col("o_orderkey")
    b1 = (
        base.filter(k % 3 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(100.0))
        .withColumn("update_at", F.lit("v1"))
    )
    t.upsert(b1)  # commit 1 — the restore target
    deletes = base.filter(k % 7 == 0).withColumn("Op", F.lit("D"))
    inserts = (
        base.filter(k % 11 == 0)
        .withColumn("o_orderkey", k + F.lit(10_000_000))
        .withColumn("Op", F.lit("I"))
    )
    b2 = deletes.unionByName(inserts).withColumn("update_at", F.lit("v2"))
    t.upsert(b2, delete_mode="apply")  # commit 2 — rolled back below
    new_v = t.restore_to_version(1)
    assert new_v == 3, f"restore committed v{new_v}, expected v3"
    return t


def _restore_serve(spark: SparkSession, sf_dir: str, t: KeyedTable) -> DataFrame:
    return (
        t.read()  # the LIVE head after the rollback commit
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
        .orderBy("o_orderkey")
    )


def restore_table_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _restore_serve(spark, sf_dir, _restore_fixture(spark, sf_dir))


RESTORE_SQL = """
SELECT o_orderkey,
       CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 100.0
            ELSE o_totalprice END AS o_totalprice,
       o_orderpriority
FROM orders
WHERE o_orderkey % 2 = 0
ORDER BY o_orderkey
"""


# --- shallow clone: zero-copy branching ---------------------------------------

_CLONE_ORDERS: dict[tuple[int, str], object] = {}


def _clone_fixture(spark: SparkSession, sf_dir: str):
    """Zero-copy branch lifecycle (operators/clone — Delta SHALLOW
    CLONE / Iceberg branch parity; the reference's Hudi tables are
    single-lineage):

    - source: orders, v0 load + v1 reprice (``key%3`` +100), retained;
    - ``clone_table`` at v1 — ONE metadata file, no data copied
      (asserted by the suite; at 100 TB this is the whole point);
    - branch commit 1: upsert zeroing ``key%5`` prices (localizes only
      the touched month partitions, copy-on-write);
    - branch commit 2: DELETE ``status F ∧ key%7`` (rewrite-routed);
    - the SOURCE then moves past the pin (a v2 upsert the branch must
      never see).

    Serve reads the branch live head — local overlay + pinned source
    remainder; the oracle states it in closed form over orders."""
    from rds_to_datalake_project_spark.operators.clone import clone_table

    key = (id(spark), sf_dir)
    t = _CLONE_ORDERS.get(key)
    if t is not None:
        return t
    cols = ["o_orderkey", "o_orderdate", "o_totalprice", "o_orderstatus"]
    # half-sized (like the restore fixture): the row exercises the
    # branch MACHINERY; fixture build cost shouldn't dominate bench
    base = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 2 == 0)
        .select(*cols)
    )
    spec = TableSpec(
        "orders_branch",
        record_key=("o_orderkey",),
        precombine_key="update_at",
        partition_source="o_orderdate",
        partition_granularity="month",
    )
    root = _scratch("clone_branch")
    src = KeyedTable(spark, root + "/src", spec, retain_versions=4)
    src.initial_load(base.withColumn("update_at", F.lit("v0")))
    k = F.col("o_orderkey")
    src.upsert(
        base.filter(k % 3 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(100.0))
        .withColumn("update_at", F.lit("v1"))
    )
    cl = clone_table(src, root + "/branch", retain_versions=3)
    cl.upsert(
        base.filter(k % 5 == 0)
        .withColumn("o_totalprice", F.lit(0.0))
        .withColumn("update_at", F.lit("v8"))
    )
    cl.delete_where("o_orderstatus = 'F' AND o_orderkey % 7 = 0")
    # the source moving past the pin must be invisible to the branch
    src.upsert(
        base.filter(k % 2 == 0)
        .withColumn("o_totalprice", F.lit(-1.0))
        .withColumn("update_at", F.lit("v9"))
    )
    _CLONE_ORDERS[key] = cl
    return cl


def _clone_serve(spark: SparkSession, sf_dir: str, cl) -> DataFrame:
    return (
        cl.read()
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
        .orderBy("o_orderkey")
    )


def clone_table_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _clone_serve(spark, sf_dir, _clone_fixture(spark, sf_dir))


CLONE_SQL = """
SELECT o_orderkey,
       CASE WHEN o_orderkey % 5 = 0 THEN 0.0
            WHEN o_orderkey % 3 = 0 THEN o_totalprice + 100.0
            ELSE o_totalprice END AS o_totalprice,
       o_orderstatus
FROM orders
WHERE o_orderkey % 2 = 0
  AND NOT (o_orderstatus = 'F' AND o_orderkey % 7 = 0)
ORDER BY o_orderkey
"""


# --- deletion vectors: merge-on-read DELETE -----------------------------------

_DV_ORDERS: dict[tuple[int, str], KeyedTable] = {}


def _dv_fixture(spark: SparkSession, sf_dir: str) -> KeyedTable:
    """Vector-delete lifecycle over orders (operators/deletevectors —
    the merge-on-read answer to the reference's always-rewrite Hudi
    COW deletes, glue_jobs/incremental.py:214-243):

    - initial load (v0, month-partitioned, retained);
    - commit 1: VECTOR delete of ``status F ∧ key%3=0`` — a
      kilobyte positional-tombstone commit, zero data files rewritten;
    - commit 2: upsert RE-INSERTING the ``key%9=0`` subset of the
      deleted keys (+500 price) — lands in fresh files the stale
      vector entries cannot mask (positional identity).

    The serve reads the LIVE head through the mask; the oracle states
    the final state in closed form over orders."""
    key = (id(spark), sf_dir)
    t = _DV_ORDERS.get(key)
    if t is not None:
        return t
    cols = ["o_orderkey", "o_orderdate", "o_totalprice", "o_orderstatus"]
    base = load_table(spark, sf_dir, "orders").select(*cols)
    spec = TableSpec(
        "orders_dv",
        record_key=("o_orderkey",),
        precombine_key="update_at",
        partition_source="o_orderdate",
        partition_granularity="month",
    )
    t = KeyedTable(
        spark,
        _scratch("dv_delete") + "/t",
        spec,
        retain_versions=3,
        deletion_vectors=True,
    )
    t.initial_load(base.withColumn("update_at", F.lit("v0")))
    t.delete_where("o_orderstatus = 'F' AND o_orderkey % 3 = 0")
    reinsert = (
        base.filter(
            (F.col("o_orderstatus") == "F") & (F.col("o_orderkey") % 9 == 0)
        )
        .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(500.0))
        .withColumn("update_at", F.lit("v2"))
    )
    t.upsert(reinsert)
    _DV_ORDERS[key] = t
    return t


def _dv_serve(spark: SparkSession, sf_dir: str, t: KeyedTable) -> DataFrame:
    return (
        t.read()
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
        .orderBy("o_orderkey")
    )


def dv_delete_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _dv_serve(spark, sf_dir, _dv_fixture(spark, sf_dir))


DV_DELETE_SQL = """
SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 3 = 0)
UNION ALL
SELECT o_orderkey, o_totalprice + 500.0 AS o_totalprice, o_orderstatus
FROM orders
WHERE o_orderstatus = 'F' AND o_orderkey % 9 = 0
ORDER BY o_orderkey
"""


def lake_table_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC feed OF THE LAKE ITSELF: ``table_changes(0, 2)`` on the
    versioned fixture — every key inserted, updated, or deleted
    between the initial load and commit 2, with its image. One
    full-outer key join between two metadata-only snapshot reads
    (operators/upsert.py table_changes); the oracle restates the net
    change set in closed form over orders."""
    t = _versioned_orders(spark, sf_dir)
    return (
        t.table_changes(0, 2)
        .select("o_orderkey", "_change_type", "o_totalprice")
        .orderBy("o_orderkey", "_change_type")
    )


LAKE_CHANGES_SQL = """
WITH updates AS (
    SELECT o_orderkey,
           'update' AS _change_type,
           CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1000.0
                ELSE o_totalprice + 100.0 END AS o_totalprice
    FROM orders
    WHERE (o_orderkey % 3 = 0 OR o_orderkey % 5 = 0)
      AND NOT (o_orderkey % 7 = 0 AND o_orderkey % 5 <> 0)
), deletes AS (
    SELECT o_orderkey, 'delete' AS _change_type, o_totalprice
    FROM orders
    WHERE o_orderkey % 7 = 0 AND o_orderkey % 5 <> 0
), inserts AS (
    SELECT o_orderkey + 10000000 AS o_orderkey,
           'insert' AS _change_type,
           o_totalprice
    FROM orders
    WHERE o_orderkey % 11 = 0
)
SELECT * FROM updates
UNION ALL SELECT * FROM deletes
UNION ALL SELECT * FROM inserts
ORDER BY o_orderkey, _change_type
"""


def scd2_orders_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 interval view of the versioned fixture
    (operators/scd.py): one row per (o_orderkey, o_totalprice) run
    across commits 0..2 with valid_from/valid_to commit bounds. The
    oracle restates the three snapshots in closed form over orders and
    collapses them with the same break/segment window — equal only if
    read_as_of, gap-break (delete then re-insert), and interval
    bounds all agree."""
    from rds_to_datalake_project_spark.operators.scd import scd2_history

    t = _versioned_orders(spark, sf_dir)
    return scd2_history(t, ["o_totalprice"]).orderBy("o_orderkey", "valid_from")


SCD2_SQL = """
WITH s0 AS (
  SELECT o_orderkey, o_totalprice FROM orders
), s1 AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 100.0
              ELSE o_totalprice END AS o_totalprice
  FROM orders
), s2 AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1000.0
              WHEN o_orderkey % 3 = 0 THEN o_totalprice + 100.0
              ELSE o_totalprice END AS o_totalprice
  FROM orders
  WHERE NOT (o_orderkey % 7 = 0 AND o_orderkey % 5 <> 0)
  UNION ALL
  SELECT o_orderkey + 10000000, o_totalprice
  FROM orders WHERE o_orderkey % 11 = 0
), u AS (
  SELECT 0 AS v, * FROM s0
  UNION ALL SELECT 1, * FROM s1
  UNION ALL SELECT 2, * FROM s2
), m AS (
  SELECT *,
         CASE WHEN lag(v) OVER w IS NULL
                OR lag(v) OVER w <> v - 1
                OR lag(o_totalprice) OVER w IS DISTINCT FROM o_totalprice
              THEN 1 ELSE 0 END AS brk
  FROM u WINDOW w AS (PARTITION BY o_orderkey ORDER BY v)
), g AS (
  SELECT *, SUM(brk) OVER (PARTITION BY o_orderkey ORDER BY v) AS seg FROM m
)
SELECT o_orderkey, o_totalprice,
       MIN(v) AS valid_from,
       CASE WHEN MAX(v) < 2 THEN MAX(v) + 1 END AS valid_to,
       MAX(v) = 2 AS is_current
FROM g GROUP BY o_orderkey, o_totalprice, seg
ORDER BY o_orderkey, valid_from
"""


def scd2_store_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MAINTAINED SCD-2 service (operators/scd.py:Scd2Store):
    interval table built at commit 0, then advanced commit-by-commit
    from the pre/post change feed — cost ∝ change set, never a
    re-read of every snapshot. The oracle is the SAME closed form as
    scd2_orders_history, so a hash match proves incremental
    maintenance ≡ full recomputation across updates, deletes, AND
    re-keyed inserts."""
    from rds_to_datalake_project_spark.operators.scd import Scd2Store

    t = _versioned_orders(spark, sf_dir)
    s = Scd2Store(t, _scratch("scd2_store") + "/s", ["o_totalprice"])
    s.build(0)
    r = s.refresh()
    assert r["mode"] == "incremental" and r["commits_applied"] == 2, r
    return s.read().select(
        "o_orderkey", "o_totalprice", "valid_from", "valid_to", "is_current"
    ).orderBy("o_orderkey", "valid_from")


def pit_lineitem_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINT-IN-TIME join (operators/scd.py:pit_join): each lineitem
    row, assigned a deterministic commit position (l_linenumber mod
    3), is enriched with its order's total price AS OF that commit —
    the leakage-free feature join an SCD-2 dimension exists for.
    Orders deleted by commit 2 resolve to NULL at as_of=2 (no interval
    covers them), which the oracle's closed-form snapshot CASE states
    directly. One equi-join shuffle on the order key; the interval
    bounds are a post-join residual."""
    from rds_to_datalake_project_spark.operators.scd import (
        pit_join,
        scd2_history,
    )

    t = _versioned_orders(spark, sf_dir)
    hist = scd2_history(t, ["o_totalprice"]).withColumnRenamed(
        "o_totalprice", "price_asof"
    )
    facts = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"),
        "l_linenumber",
        (F.col("l_linenumber") % 3).cast("int").alias("as_of"),
    )
    out = pit_join(facts, hist, ["o_orderkey"], "as_of", ["price_asof"])
    return out.orderBy("o_orderkey", "l_linenumber")


PIT_SQL = """
SELECT l.l_orderkey AS o_orderkey,
       l.l_linenumber,
       CAST(l.l_linenumber % 3 AS INTEGER) AS as_of,
       CASE
         WHEN l.l_linenumber % 3 = 0 THEN o.o_totalprice
         WHEN l.l_linenumber % 3 = 1 THEN
           CASE WHEN o.o_orderkey % 3 = 0 THEN o.o_totalprice + 100.0
                ELSE o.o_totalprice END
         ELSE
           CASE WHEN o.o_orderkey % 7 = 0 AND o.o_orderkey % 5 <> 0 THEN NULL
                WHEN o.o_orderkey % 5 = 0 THEN o.o_totalprice + 1000.0
                WHEN o.o_orderkey % 3 = 0 THEN o.o_totalprice + 100.0
                ELSE o.o_totalprice END
       END AS price_asof
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
ORDER BY o_orderkey, l_linenumber
"""


_SEC_PROBES = [7, 21, 42]


def _secondary_index_fixture(spark: SparkSession, sf_dir: str) -> KeyedTable:
    """BUILD phase of :func:`secondary_index_lookup`: keyed table with
    the index service attached, 3/4 loaded, one CDC commit that both
    inserts the rest and re-keys some custkeys (index maintenance runs
    per commit). Split out so the bench can attribute the lifecycle
    wall to build vs serve (r9 VERDICT: the probe under test was <10%
    of the row)."""
    from rds_to_datalake_project_spark.operators.secondary_index import (
        attach_secondary_index_maintenance,
    )

    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    spec = TableSpec(
        "orders_sec",
        record_key=("o_orderkey",),
        precombine_key="seq",
        partition_granularity=None,
    )
    t = KeyedTable(
        spark, _scratch("sec_index") + "/t", spec, retain_versions=4
    )
    attach_secondary_index_maintenance(t, "o_custkey")
    t.initial_load(
        base.filter(F.col("o_orderkey") % 4 != 0).withColumn(
            "seq", F.lit(0).cast("long")
        )
    )
    inserts = base.filter(F.col("o_orderkey") % 4 == 0)
    remaps = base.filter(F.col("o_orderkey") % 10 == 5).withColumn(
        "o_custkey", F.col("o_custkey") % 50
    )
    t.upsert(
        inserts.unionByName(remaps)
        .withColumn("seq", F.lit(1).cast("long"))
        .withColumn("Op", F.lit("U"))
    )
    return t


def _secondary_index_serve(
    spark: SparkSession, sf_dir: str, t: KeyedTable
) -> DataFrame:
    from rds_to_datalake_project_spark.operators.secondary_index import (
        secondary_lookup,
    )

    return (
        secondary_lookup(t, "o_custkey", _SEC_PROBES)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")
    )


def secondary_index_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level secondary index lifecycle
    (operators/secondary_index.py): an orderkey-keyed table indexed on
    the NON-key o_custkey — service attached, 3/4 of orders loaded,
    then a CDC commit that both inserts the rest and RE-KEYS some
    rows' custkeys (so the incremental delta must retire old entries
    by tombstone). Probing three custkeys serves from the entries
    sidecar + the pruned key lookup; the oracle is the plain filter
    over the closed-form final state (exactness contract)."""
    return _secondary_index_serve(
        spark, sf_dir, _secondary_index_fixture(spark, sf_dir)
    )


SECONDARY_LOOKUP_SQL = f"""
SELECT o_orderkey,
       CASE WHEN o_orderkey % 10 = 5 THEN o_custkey % 50
            ELSE o_custkey END AS o_custkey,
       o_totalprice
FROM orders
WHERE (CASE WHEN o_orderkey % 10 = 5 THEN o_custkey % 50
            ELSE o_custkey END) IN ({", ".join(map(str, _SEC_PROBES))})
ORDER BY o_orderkey
"""


_RANGE_LO, _RANGE_HI = 1000.0, 25000.0


def secondary_index_range_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE probe on a non-key column via the band-partitioned
    secondary index (operators/secondary_index.py RANGE layout) — the
    reference's actual secondary-index shape (db_orm.py:45-48 indexes
    the ``create_at`` timestamp, i.e. range scans). Lifecycle: an
    orderkey-keyed table range-indexed on o_totalprice, 3/4 loaded,
    then one CDC commit that inserts the rest, REPRICES one key class
    +500 000 (moving it out of the probed range — its old in-range
    entries must be tombstoned away) and deletes another. The BETWEEN
    probe serves from the band-pruned entries + key semi-join; the
    oracle is the plain closed-form filter (exactness contract)."""
    return _secondary_range_serve(
        spark, sf_dir, _secondary_range_fixture(spark, sf_dir)
    )


def _secondary_range_fixture(spark: SparkSession, sf_dir: str) -> KeyedTable:
    from rds_to_datalake_project_spark.operators.secondary_index import (
        attach_secondary_range_index_maintenance,
    )

    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    spec = TableSpec(
        "orders_rng",
        record_key=("o_orderkey",),
        precombine_key="seq",
        partition_granularity=None,
    )
    t = KeyedTable(
        spark, _scratch("sec_range") + "/t", spec, retain_versions=4
    )
    attach_secondary_range_index_maintenance(t, "o_totalprice")
    k = F.col("o_orderkey")
    t.initial_load(
        base.filter(k % 4 != 0).withColumn("seq", F.lit(0).cast("long"))
    )
    inserts = base.filter((k % 4 == 0) & (k % 13 != 0) & (k % 10 != 5))
    remaps = base.filter((k % 10 == 5) & (k % 13 != 0)).withColumn(
        "o_totalprice", F.col("o_totalprice") + F.lit(500_000.0)
    )
    # %13 keys never loaded (%4 == 0) are simply not inserted; only the
    # loaded ones need tombstones — same closed-form final state.
    deletes = base.filter((k % 13 == 0) & (k % 4 != 0))
    t.upsert(
        inserts.unionByName(remaps)
        .withColumn("Op", F.lit("U"))
        .unionByName(deletes.withColumn("Op", F.lit("D")))
        .withColumn("seq", F.lit(1).cast("long")),
        delete_mode="apply",
    )
    return t


def _secondary_range_serve(
    spark: SparkSession, sf_dir: str, t: KeyedTable
) -> DataFrame:
    from rds_to_datalake_project_spark.operators.secondary_index import (
        secondary_range_lookup,
    )

    return (
        secondary_range_lookup(t, "o_totalprice", _RANGE_LO, _RANGE_HI)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")
    )


def sidecar_service_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ops inventory surface (operators/sidecar.py:service_status)
    over the range-index lifecycle fixture, hardened with a REAL
    nonzero lag (r10 VERDICT "What's wrong" #2 — a constant-row twin
    can't catch lag arithmetic): a second, UNHOOKED equality index is
    built at head, then one more commit lands. The hooked range index
    follows (lag 0, delta chain 2); the unhooked index stays behind
    (lag 1, chain 0). Every column now differs between the two rows,
    and the lag values are computed from marker state vs a moved head
    — the sidecar protocol still pins the final metadata
    deterministically, so the oracle states both rows in closed form.
    Metadata-only: one root listing + marker reads."""
    from rds_to_datalake_project_spark.operators.secondary_index import (
        build_secondary_index,
    )
    from rds_to_datalake_project_spark.operators.sidecar import service_status

    t = _secondary_range_fixture(spark, sf_dir)
    # second service, deliberately NOT enrolled in maintenance
    build_secondary_index(t, "o_custkey")
    # third commit: the range-index hook follows it; the equality
    # index does not and must report lag = head - indexed = 1
    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    t.upsert(
        base.filter((F.col("o_orderkey") % 17 == 3) & (F.col("o_orderkey") % 4 != 0))
        .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(1.0))
        .withColumn("Op", F.lit("U"))
        .withColumn("seq", F.lit(2).cast("long"))
    )
    flat = [
        (
            d["service"],
            int(d["indexed_version"]),
            int(d["head_version"]),
            int(d["lag"]),
            int(sum(d["families"].values())),
        )
        for d in service_status(t)
    ]
    return local_frame(
        spark,
        flat,
        "service string, indexed_version int, head_version int, "
        "lag int, n_delta_parts int",
    ).orderBy("service")


_RW_LO, _RW_HI = 30000.0, 60000.0
_RW_KEY_HI = 40000


def read_where_routed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The advisory access-path router (KeyedTable.read_where): a
    non-key range predicate routes through the FRESH secondary RANGE
    index (record keys resolved index-side, base semi-joined), while
    the key-side predicate still prunes files on the scan side; every
    predicate is re-applied as a residual, so the result is exactly
    the plain filter the oracle states. Routing internals are pytest-
    covered (test_read_where_routes_through_secondary_indexes); this
    row pins the end-to-end answer."""
    t = _secondary_range_fixture(spark, sf_dir)
    return (
        t.read_where(
            {
                "o_totalprice": (_RW_LO, _RW_HI),
                "o_orderkey": (0, _RW_KEY_HI),
            }
        )
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")
    )


READ_WHERE_SQL = f"""
SELECT o_orderkey, o_custkey,
       CASE WHEN o_orderkey % 10 = 5 THEN o_totalprice + 500000.0
            ELSE o_totalprice END AS o_totalprice
FROM orders
WHERE o_orderkey % 13 <> 0
  AND o_orderkey BETWEEN 0 AND {_RW_KEY_HI}
  AND (CASE WHEN o_orderkey % 10 = 5 THEN o_totalprice + 500000.0
            ELSE o_totalprice END) BETWEEN {_RW_LO} AND {_RW_HI}
ORDER BY o_orderkey
"""


SERVICE_STATUS_SQL = """
SELECT '.secindex_o_custkey' AS service,
       CAST(1 AS INTEGER) AS indexed_version,
       CAST(2 AS INTEGER) AS head_version,
       CAST(1 AS INTEGER) AS lag,
       CAST(0 AS INTEGER) AS n_delta_parts
UNION ALL
SELECT '.secrange_o_totalprice' AS service,
       CAST(2 AS INTEGER) AS indexed_version,
       CAST(2 AS INTEGER) AS head_version,
       CAST(0 AS INTEGER) AS lag,
       CAST(2 AS INTEGER) AS n_delta_parts
ORDER BY service
"""


SECONDARY_RANGE_SQL = f"""
SELECT o_orderkey, o_custkey,
       CASE WHEN o_orderkey % 10 = 5 THEN o_totalprice + 500000.0
            ELSE o_totalprice END AS o_totalprice
FROM orders
WHERE o_orderkey % 13 <> 0
  AND (CASE WHEN o_orderkey % 10 = 5 THEN o_totalprice + 500000.0
            ELSE o_totalprice END) BETWEEN {_RANGE_LO} AND {_RANGE_HI}
ORDER BY o_orderkey
"""


def replicated_orders_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-lake replication end to end (operators/replicate.py): a
    source orders table with a live changes feed runs three commits
    (load → status reprice → delete + re-keyed insert); a replica
    bootstraps from commit 0 and catches up through the feed in ONE
    idempotent apply. The emitted rows are the REPLICA's per-priority
    anti-entropy checksums; the oracle states the source's final state
    in closed form — a hash match proves feed capture, bootstrap,
    multi-commit collapse, and delete application all at once."""
    return _replicated_serve(
        spark, sf_dir, _replicated_fixture(spark, sf_dir)
    )


_REPL_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"]


def _replicated_fixture(spark: SparkSession, sf_dir: str) -> KeyedTable:
    from rds_to_datalake_project_spark.operators.replicate import (
        apply_changes_feed,
        bootstrap_replica,
    )

    base = load_table(spark, sf_dir, "orders").select(*_REPL_COLS)
    root = _scratch("replicate")
    src_spec = TableSpec(
        "orders_src",
        record_key=("o_orderkey",),
        precombine_key="seq",
        partition_granularity=None,
    )
    t = KeyedTable(
        spark,
        root + "/src",
        src_spec,
        retain_versions=4,
        changes_feed_dir=root + "/feed",
    )
    t.initial_load(base.withColumn("seq", F.lit(0).cast("long")))
    k = F.col("o_orderkey")
    t.upsert(
        base.filter(k % 3 == 0)
        .withColumn("o_orderstatus", F.lit("R"))
        .withColumn("seq", F.lit(1).cast("long"))
        .withColumn("Op", F.lit("U"))
    )
    deletes = base.filter(k % 7 == 0).withColumn("Op", F.lit("D"))
    inserts = (
        base.filter(k % 11 == 0)
        .withColumn("o_orderkey", k + F.lit(10_000_000))
        .withColumn("Op", F.lit("I"))
    )
    t.upsert(
        deletes.unionByName(inserts).withColumn("seq", F.lit(2).cast("long")),
        delete_mode="apply",
    )

    rep_spec = TableSpec(
        "orders_rep",
        record_key=("o_orderkey",),
        precombine_key="_rep_seq",
        partition_granularity=None,
    )
    r = KeyedTable(spark, root + "/rep", rep_spec, retain_versions=2)
    bootstrap_replica(t, r, as_of=0)
    out = apply_changes_feed(r, root + "/feed")
    assert out["applied"] == [1, 2], out
    return r


def _replicated_serve(
    spark: SparkSession, sf_dir: str, r: KeyedTable
) -> DataFrame:
    from rds_to_datalake_project_spark.operators.compare import table_checksum

    return table_checksum(
        r.read().select(*_REPL_COLS),
        ["o_orderkey", "o_custkey", "o_orderstatus"],
        group_cols=["o_orderpriority"],
    )


def stream_replicated_orders_checksums(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CONTINUOUS replication (operators/replicate.py:stream_replicate):
    the same source lifecycle as :func:`replicated_orders_checksums`,
    but the replica FOLLOWS live — bootstrapped before the commits
    exist, then one streaming tick per commit tails the changes feed
    through a checkpointed file source and applies each micro-batch as
    one idempotent delete-aware upsert. Same closed-form oracle as the
    batch path: a hash match proves the followed replica converges to
    the identical state the one-shot catch-up reaches."""
    return _stream_replicated_serve(
        spark, sf_dir, _stream_replicated_fixture(spark, sf_dir)
    )


def _stream_replicated_fixture(spark: SparkSession, sf_dir: str) -> KeyedTable:
    from rds_to_datalake_project_spark.operators.replicate import (
        bootstrap_replica,
        stream_replicate,
    )

    base = load_table(spark, sf_dir, "orders").select(*_REPL_COLS)
    root = _scratch("stream_replicate")
    src_spec = TableSpec(
        "orders_ssrc",
        record_key=("o_orderkey",),
        precombine_key="seq",
        partition_granularity=None,
    )
    t = KeyedTable(
        spark,
        root + "/src",
        src_spec,
        retain_versions=4,
        changes_feed_dir=root + "/feed",
    )
    t.initial_load(base.withColumn("seq", F.lit(0).cast("long")))
    rep_spec = TableSpec(
        "orders_srep",
        record_key=("o_orderkey",),
        precombine_key="_rep_seq",
        partition_granularity=None,
    )
    r = KeyedTable(spark, root + "/rep", rep_spec, retain_versions=2)
    bootstrap_replica(t, r, as_of=0)  # follower starts BEFORE the commits
    ckpt = root + "/ckpt"
    k = F.col("o_orderkey")
    t.upsert(
        base.filter(k % 3 == 0)
        .withColumn("o_orderstatus", F.lit("R"))
        .withColumn("seq", F.lit(1).cast("long"))
        .withColumn("Op", F.lit("U"))
    )
    out1 = stream_replicate(r, root + "/feed", ckpt)
    deletes = base.filter(k % 7 == 0).withColumn("Op", F.lit("D"))
    inserts = (
        base.filter(k % 11 == 0)
        .withColumn("o_orderkey", k + F.lit(10_000_000))
        .withColumn("Op", F.lit("I"))
    )
    t.upsert(
        deletes.unionByName(inserts).withColumn("seq", F.lit(2).cast("long")),
        delete_mode="apply",
    )
    out2 = stream_replicate(r, root + "/feed", ckpt)
    assert (out1["cursor"], out2["cursor"]) == (1, 2), (out1, out2)
    return r


_stream_replicated_serve = _replicated_serve


REPLICATED_CHECKSUM_SQL = """
WITH final AS (
  SELECT o_orderkey, o_custkey,
         CASE WHEN o_orderkey % 3 = 0 THEN 'R' ELSE o_orderstatus END
           AS o_orderstatus,
         o_orderpriority
  FROM orders WHERE o_orderkey % 7 <> 0
  UNION ALL
  SELECT o_orderkey + 10000000, o_custkey, o_orderstatus, o_orderpriority
  FROM orders WHERE o_orderkey % 11 = 0
)
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       bit_xor(CAST(('0x' || substring(md5(
           COALESCE(CAST(o_orderkey AS VARCHAR), '∅') || '|' ||
           COALESCE(CAST(o_custkey AS VARCHAR), '∅') || '|' ||
           COALESCE(o_orderstatus, '∅')
       ), 1, 15)) AS BIGINT)) AS xor_sig
FROM final
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def orders_partition_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-entropy checksums (operators/compare.py:table_checksum):
    per-priority XOR of 60-bit row hashes + counts over orders — the
    replica-comparison primitive that moves one row per group instead
    of the table. XOR's commutativity makes the signature identical
    under any partitioning/order, which the oracle proves."""
    from rds_to_datalake_project_spark.operators.compare import table_checksum

    orders = load_table(spark, sf_dir, "orders")
    return table_checksum(
        orders,
        ["o_orderkey", "o_custkey", "o_orderstatus"],
        group_cols=["o_orderpriority"],
    )


CHECKSUM_SQL = """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       bit_xor(CAST(('0x' || substring(md5(
           COALESCE(CAST(o_orderkey AS VARCHAR), '∅') || '|' ||
           COALESCE(CAST(o_custkey AS VARCHAR), '∅') || '|' ||
           COALESCE(o_orderstatus, '∅')
       ), 1, 15)) AS BIGINT)) AS xor_sig
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def sql_timetravel_changed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel through the SQL FACADE: one run_query joining two
    ``FOR VERSION AS OF`` snapshots of the same lake table (sql.py
    rewrite → snapshot temp views) — counts per priority of orders
    alive at both commits and of those repriced between them. Counts
    only, so the hash is float-free."""
    from rds_to_datalake_project_spark.sql import run_query

    t = _versioned_orders(spark, sf_dir)
    return run_query(
        spark,
        """
        SELECT a.o_orderpriority AS priority,
               COUNT(*) AS n_orders,
               SUM(CASE WHEN b.o_totalprice <> a.o_totalprice
                        THEN 1 ELSE 0 END) AS n_repriced
        FROM ot FOR VERSION AS OF 1 a
        JOIN ot FOR VERSION AS OF 2 b USING (o_orderkey)
        GROUP BY a.o_orderpriority
        ORDER BY priority
        """,
        tables={"ot": t},
    )


SQL_TIMETRAVEL_SQL = """
SELECT o_orderpriority AS priority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CASE WHEN o_orderkey % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_repriced
FROM orders
WHERE NOT (o_orderkey % 7 = 0 AND o_orderkey % 5 <> 0)
GROUP BY o_orderpriority
ORDER BY priority
"""


def zonemap_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map file skipping end-to-end (operators/zonemap.py): write
    orders range-clustered on o_orderdate (16 files, each owning a
    narrow date slice), build the per-file min/max sidecar, then read
    a half-year window through ``pruned_read`` — which opens only the
    files whose zones intersect the window. The oracle states the
    plain filter, so the hash proves pruning never drops a row; that
    files are actually skipped is pinned by
    tests/test_zonemap.py."""
    from rds_to_datalake_project_spark.operators.zonemap import (
        build_zonemap,
        pruned_read,
    )

    orders = load_table(spark, sf_dir, "orders")
    root = _scratch("zonemap") + "/orders"
    (
        orders.repartitionByRange(16, "o_orderdate")
        .sortWithinPartitions("o_orderdate")
        .write.mode("overwrite")
        .parquet(root)
    )
    build_zonemap(spark, root, ["o_orderdate", "o_totalprice"])
    out = pruned_read(
        spark,
        root,
        {"o_orderdate": ("1996-01-01 00:00:00", "1996-06-30 23:59:59")},
    )
    return out.select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    ).orderBy("o_orderkey")


ZONEMAP_SQL = """
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate
FROM orders
WHERE o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                      AND TIMESTAMP '1996-06-30 23:59:59'
ORDER BY o_orderkey
"""


def ann_index_served_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN as a TABLE SERVICE (operators/ann_index.py): build the SQ8
    sidecar index on a versioned embeddings lake table, commit a CDC
    batch (reversed-vector updates, deletes, negated-vector inserts —
    all bit-exact transforms), ``refresh_ann_index`` incrementally
    (cost ∝ change set; bounds stay the v0 codebook), then serve
    top-k ENTIRELY from the sidecar — no base-table scan. The oracle
    replays the whole lifecycle in closed form: bounds over the
    initial corpus, codes over the post-commit corpus, the same two
    integer-exact ranking stages as sq8_ann_topk."""
    return _ann_index_serve(
        spark, sf_dir, _ann_index_fixture(spark, sf_dir)
    )


def _ann_index_fixture(spark: SparkSession, sf_dir: str) -> KeyedTable:
    from rds_to_datalake_project_spark.operators.ann_index import (
        build_ann_index,
        refresh_ann_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    spec = TableSpec(
        "emb_ann",
        record_key=("vec_id",),
        precombine_key="update_at",
        partition_granularity=None,  # unpartitioned vector corpus
    )
    t = KeyedTable(spark, _scratch("ann_idx") + "/t", spec, retain_versions=3)
    t.initial_load(emb.withColumn("update_at", F.lit("v0")))  # v0
    build_ann_index(t)  # bounds (FIXED codebook) + codes @ v0
    k = F.col("vec_id")
    updates = (
        emb.filter(k % 7 == 0)
        .withColumn("embedding", F.reverse("embedding"))
        .withColumn("Op", F.lit("U"))
    )
    deletes = emb.filter((k % 13 == 0) & (k % 7 != 0)).withColumn("Op", F.lit("D"))
    inserts = (
        emb.filter(k % 11 == 0)
        .withColumn("vec_id", k + F.lit(1_000_000))
        .withColumn("embedding", F.transform("embedding", lambda x: -x))
        .withColumn("Op", F.lit("I"))
    )
    batch = (
        updates.unionByName(deletes)
        .unionByName(inserts)
        .withColumn("update_at", F.lit("v1"))
    )
    t.upsert(batch, delete_mode="apply")  # commit 1
    refresh_ann_index(t)  # incremental: deletes out, changed rows recoded
    return t


def _ann_index_serve(
    spark: SparkSession, sf_dir: str, t: KeyedTable
) -> DataFrame:
    from rds_to_datalake_project_spark.operators.ann_index import ann_index_topk

    return ann_index_topk(t, query_vec_id=1, k=10, rerank=64)


ANN_INDEX_SQL = """
WITH e0 AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), dims AS (
  SELECT p.i AS pos, MIN(e0.v[p.i]) AS lo, MAX(e0.v[p.i]) AS hi
  FROM e0, unnest(range(1, len(e0.v) + 1)) AS p(i)
  GROUP BY p.i
), b AS (
  SELECT list(lo ORDER BY pos) AS lo_l, list(hi ORDER BY pos) AS hi_l FROM dims
), final AS (
  SELECT vec_id,
         CASE WHEN vec_id % 7 = 0 THEN list_reverse(v) ELSE v END AS v
  FROM e0
  WHERE NOT (vec_id % 13 = 0 AND vec_id % 7 <> 0)
  UNION ALL
  SELECT vec_id + 1000000 AS vec_id, list_transform(v, x -> -x) AS v
  FROM e0 WHERE vec_id % 11 = 0
), codes AS (
  SELECT f.vec_id,
         list_transform(range(1, len(f.v) + 1), i ->
           CASE WHEN b.hi_l[i] = b.lo_l[i] THEN CAST(0 AS BIGINT)
                ELSE CAST(round(255 * (f.v[i] - b.lo_l[i])
                                / (b.hi_l[i] - b.lo_l[i])) AS BIGINT)
           END) AS code,
         list_transform(f.v, x -> CAST(round(x * 1000000) AS BIGINT)) AS qvec
  FROM final f CROSS JOIN b
), q AS (
  SELECT code AS qcode, qvec AS qv FROM codes WHERE vec_id = 1
), cand AS (
  SELECT c.vec_id, c.qvec,
         CAST(list_sum(list_transform(range(1, len(c.code) + 1),
              i -> (c.code[i] - 128) * (q.qcode[i] - 128))) AS BIGINT)
           AS approx_score
  FROM codes c CROSS JOIN q
  ORDER BY approx_score DESC, c.vec_id
  LIMIT 64
)
SELECT cand.vec_id, cand.approx_score,
       CAST(list_sum(list_transform(range(1, len(cand.qvec) + 1),
            i -> cand.qvec[i] * q.qv[i])) AS DOUBLE)
       / sqrt(CAST(list_sum(list_transform(cand.qvec, x -> x * x)) AS DOUBLE)
            * CAST(list_sum(list_transform(q.qv, x -> x * x)) AS DOUBLE))
         AS cosine_sim
FROM cand CROSS JOIN q
ORDER BY cosine_sim DESC, vec_id
LIMIT 10
"""


def indexed_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed record-lookup path (KeyedTable.lookup_many): a
    lake table carrying BOTH sidecars — zone map (range) and bloom
    (membership) — serves point reads from the per-key intersection
    of their candidates, batched into one sidecar pass each and ONE
    candidate read for the whole key set. The oracle is the plain key
    filter (advisory contract: pruning never changes results)."""
    return _indexed_lookup_serve(
        spark, sf_dir, _indexed_lookup_fixture(spark, sf_dir)
    )


def _indexed_lookup_fixture(spark: SparkSession, sf_dir: str):
    from rds_to_datalake_project_spark.operators.bloomfilter import (
        attach_bloom_maintenance,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    spec = TableSpec(
        "orders_lkp",
        record_key=("o_orderkey",),
        precombine_key="update_at",
        partition_granularity=None,
    )
    t = KeyedTable(
        spark,
        _scratch("idx_lookup") + "/t",
        spec,
        zonemap_columns=["o_orderkey"],
    )
    attach_bloom_maintenance(t, ["o_orderkey"])
    # Key-clustered multi-file layout: each lookup should open O(1)
    # of the 16 files (zone map cuts by range, bloom by membership) —
    # the advisory contract keeps results identical either way.
    t.initial_load(
        orders.repartitionByRange(16, "o_orderkey").withColumn(
            "update_at", F.lit("v0")
        )
    )
    keys = [
        r["o_orderkey"]
        for r in orders.filter(F.col("o_orderkey") % 2999 == 1)
        .select("o_orderkey")
        .collect()
    ]
    return t, keys


def _indexed_lookup_serve(spark: SparkSession, sf_dir: str, fixture) -> DataFrame:
    t, keys = fixture
    return (
        t.lookup_many(keys)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")
    )


INDEXED_LOOKUP_SQL = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
WHERE o_orderkey % 2999 = 1
ORDER BY o_orderkey
"""


def bloom_pruned_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-file bloom-index point lookup (operators/bloomfilter.py —
    the reference's Hudi bloom-index analog): cluster orders into
    files, build the membership sidecar, probe a deterministic key
    set; the pruned read must be EXACTLY the plain IN-filter the
    oracle states (advisory contract, same as the zone map)."""
    return _bloom_lookup_serve(
        spark, sf_dir, _bloom_lookup_fixture(spark, sf_dir)
    )


def _bloom_lookup_fixture(spark: SparkSession, sf_dir: str):
    from rds_to_datalake_project_spark.operators.bloomfilter import (
        build_bloom_index,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    root = _scratch("bloom") + "/orders"
    orders.repartitionByRange(8, "o_orderkey").write.mode("overwrite").parquet(root)
    build_bloom_index(spark, root, ["o_orderkey"])
    # A POINT-lookup probe: the 5 smallest keys ≡ 1 (mod 7) — a handful
    # of keys clustered low in the keyspace, so against range-clustered
    # files most files bloom-skip (a keyspace-spanning modulus sweep
    # legitimately touches every file and demonstrates nothing).
    keys = [
        r["o_orderkey"]
        for r in orders.filter(F.col("o_orderkey") % 7 == 1)
        .select("o_orderkey")
        .orderBy("o_orderkey")
        .limit(5)
        .collect()
    ]
    return root, keys


def _bloom_lookup_serve(spark: SparkSession, sf_dir: str, fixture) -> DataFrame:
    from rds_to_datalake_project_spark.operators.bloomfilter import (
        bloom_pruned_read,
    )

    root, keys = fixture
    return bloom_pruned_read(spark, root, "o_orderkey", keys).orderBy(
        "o_orderkey"
    )


BLOOM_LOOKUP_SQL = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
WHERE o_orderkey IN (
  SELECT o_orderkey FROM orders
  WHERE o_orderkey % 7 = 1
  ORDER BY o_orderkey LIMIT 5
)
ORDER BY o_orderkey
"""


def sql_dml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level DML through the one SQL layer (sql.py DELETE/UPDATE
    verbs → KeyedTable.delete_where/update_where): load orders as a
    retained lake table, DELETE a key class, UPDATE another, read the
    final state. Both statements are real numbered commits riding the
    tombstone/precombine merge — the oracle states the net effect in
    closed form over orders."""
    from rds_to_datalake_project_spark.sql import run_query

    cols = ["o_orderkey", "o_totalprice", "o_orderpriority"]
    base = load_table(spark, sf_dir, "orders").select(*cols)
    spec = TableSpec(
        "orders_dml",
        record_key=("o_orderkey",),
        precombine_key="update_at",
        partition_granularity=None,
    )
    t = KeyedTable(spark, _scratch("sql_dml") + "/t", spec, retain_versions=3)
    t.initial_load(base.withColumn("update_at", F.lit("v0")))
    reg = {"orders_dml": t}
    run_query(
        spark, "DELETE FROM orders_dml WHERE o_orderkey % 7 = 0", tables=reg
    ).collect()
    run_query(
        spark,
        "UPDATE orders_dml SET o_totalprice = o_totalprice + 50.0, "
        "update_at = 'v1' WHERE o_orderkey % 5 = 0",
        tables=reg,
    ).collect()
    return t.read().select(*cols).orderBy("o_orderkey")


SQL_DML_SQL = """
SELECT o_orderkey,
       CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 50.0
            ELSE o_totalprice END AS o_totalprice,
       o_orderpriority
FROM orders
WHERE o_orderkey % 7 <> 0
ORDER BY o_orderkey
"""


def sql_merge_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Hudi/Delta CDC-apply verb end-to-end (sql.py MERGE INTO →
    precombine merge): one statement applies whole-row updates, a
    conditional delete class, and inserts from a CDC source view onto
    a retained orders lake table. The oracle states the net state in
    closed form."""
    from rds_to_datalake_project_spark.sql import run_query

    cols = ["o_orderkey", "o_totalprice", "o_orderpriority"]
    base = load_table(spark, sf_dir, "orders").select(*cols)
    spec = TableSpec(
        "orders_mg",
        record_key=("o_orderkey",),
        precombine_key="update_at",
        partition_granularity=None,
    )
    t = KeyedTable(spark, _scratch("sql_merge") + "/t", spec, retain_versions=2)
    t.initial_load(base.withColumn("update_at", F.lit("v0")))
    k = F.col("o_orderkey")
    updates = base.filter(k % 3 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") + F.lit(100.0)
    )
    deletes = base.filter((k % 11 == 0) & (k % 3 != 0))
    inserts = base.filter(k % 13 == 0).withColumn(
        "o_orderkey", k + F.lit(10_000_000)
    )
    (
        updates.unionByName(deletes)
        .unionByName(inserts)
        .withColumn("update_at", F.lit("v1"))
        .withColumn(
            "is_tombstone", (k % 11 == 0) & (k % 3 != 0) & (k < 10_000_000)
        )
        .createOrReplaceTempView("orders_cdc_src")
    )
    run_query(
        spark,
        "MERGE INTO orders_mg USING orders_cdc_src AS s "
        "ON orders_mg.o_orderkey = s.o_orderkey "
        "WHEN MATCHED AND is_tombstone THEN DELETE "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *",
        tables={"orders_mg": t},
    ).collect()
    return t.read().select(*cols).orderBy("o_orderkey")


SQL_MERGE_SQL = """
SELECT o_orderkey,
       CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 100.0
            ELSE o_totalprice END AS o_totalprice,
       o_orderpriority
FROM orders
WHERE NOT (o_orderkey % 11 = 0 AND o_orderkey % 3 <> 0)
UNION ALL
SELECT o_orderkey + 10000000 AS o_orderkey, o_totalprice, o_orderpriority
FROM orders WHERE o_orderkey % 13 = 0
ORDER BY o_orderkey
"""


def purge_keep_history_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HISTORY-PRESERVING GDPR purge (operators/upsert.py
    purge_rows(keep_history=True)): load orders as a retained lake
    table, commit a repricing, then hard-purge a key class — every
    retained snapshot is REWRITTEN minus the purged keys instead of
    flooring history. The as-of read at the PRE-purge commit must
    serve the old snapshot for every unrelated row while the purged
    keys are irrecoverable at every version; the oracle states that
    surviving snapshot in closed form over orders."""
    cols = ["o_orderkey", "o_totalprice", "o_orderpriority"]
    base = load_table(spark, sf_dir, "orders").select(*cols)
    spec = TableSpec(
        "orders_pg",
        record_key=("o_orderkey",),
        precombine_key="update_at",
        partition_granularity=None,
    )
    t = KeyedTable(spark, _scratch("purge_hist") + "/t", spec, retain_versions=5)
    t.initial_load(base.withColumn("update_at", F.lit("v0")))
    b1 = (
        base.filter(F.col("o_orderkey") % 3 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(100.0))
        .withColumn("update_at", F.lit("v1"))
    )
    t.upsert(b1)  # commit 1 — the pre-purge snapshot under test
    t.purge_rows("o_orderkey % 13 = 0", keep_history=True)  # commit 2 + scrub
    return t.read_as_of(1).select(*cols).orderBy("o_orderkey")


PURGE_KEEP_HISTORY_SQL = """
SELECT o_orderkey,
       CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 100.0
            ELSE o_totalprice END AS o_totalprice,
       o_orderpriority
FROM orders
WHERE o_orderkey % 13 <> 0
ORDER BY o_orderkey
"""


def ann_index_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-pruned serving from the persisted ANN index (operators/
    ann_index.py): build with 4 fixed axis centroids (integer-exact
    cell assignment), then top-k probing only the 2 cells nearest the
    query — stage 1 never scans the other cells. The oracle replays
    cells, probe selection, and both ranking stages bit-for-bit."""
    return _ann_ivf_serve(spark, sf_dir, _ann_ivf_fixture(spark, sf_dir))


def _ann_ivf_fixture(spark: SparkSession, sf_dir: str) -> KeyedTable:
    from rds_to_datalake_project_spark.operators.ann_index import build_ann_index

    emb = load_table(spark, sf_dir, "embeddings")
    spec = TableSpec(
        "emb_ivf",
        record_key=("vec_id",),
        precombine_key="update_at",
        partition_granularity=None,
    )
    t = KeyedTable(spark, _scratch("ann_ivf") + "/t", spec, retain_versions=2)
    t.initial_load(emb.withColumn("update_at", F.lit("v0")))
    dim = 64

    def axis(i):
        v = [0.0] * dim
        v[i] = 1.0
        return v

    build_ann_index(t, centroids=[(i, axis(i)) for i in range(4)])
    return t


def _ann_ivf_serve(spark: SparkSession, sf_dir: str, t: KeyedTable) -> DataFrame:
    from rds_to_datalake_project_spark.operators.ann_index import ann_index_topk

    return ann_index_topk(t, query_vec_id=1, k=10, rerank=64, probe_cells=2)


ANN_IVF_SQL = """
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), dims AS (
  SELECT p.i AS pos, MIN(e.v[p.i]) AS lo, MAX(e.v[p.i]) AS hi
  FROM e, unnest(range(1, len(e.v) + 1)) AS p(i)
  GROUP BY p.i
), b AS (
  SELECT list(lo ORDER BY pos) AS lo_l, list(hi ORDER BY pos) AS hi_l FROM dims
), cents AS (
  SELECT c.cid AS cid,
         list_transform(range(1, 65),
                        i -> CASE WHEN i = c.cid + 1 THEN CAST(1000000 AS BIGINT)
                                  ELSE CAST(0 AS BIGINT) END) AS qc
  FROM (SELECT unnest(range(0, 4)) AS cid) c
), coded AS (
  SELECT e.vec_id,
         list_transform(range(1, len(e.v) + 1), i ->
           CASE WHEN b.hi_l[i] = b.lo_l[i] THEN CAST(0 AS BIGINT)
                ELSE CAST(round(255 * (e.v[i] - b.lo_l[i])
                                / (b.hi_l[i] - b.lo_l[i])) AS BIGINT)
           END) AS code,
         list_transform(e.v, x -> CAST(round(x * 1000000) AS BIGINT)) AS qvec
  FROM e CROSS JOIN b
), dists AS (
  SELECT coded.vec_id, cents.cid,
         CAST(list_sum(list_transform(range(1, 65),
              i -> (coded.qvec[i] - cents.qc[i]) * (coded.qvec[i] - cents.qc[i])))
           AS BIGINT) AS d
  FROM coded CROSS JOIN cents
), celled AS (
  SELECT coded.vec_id, coded.code, coded.qvec, a.cid AS cell
  FROM coded JOIN (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
    FROM dists
  ) a ON a.vec_id = coded.vec_id AND a.rn = 1
), q AS (
  SELECT code AS qcode, qvec AS qv FROM celled WHERE vec_id = 1
), probe AS (
  SELECT cents.cid FROM cents CROSS JOIN q
  ORDER BY CAST(list_sum(list_transform(range(1, 65),
            i -> (q.qv[i] - cents.qc[i]) * (q.qv[i] - cents.qc[i]))) AS BIGINT),
           cents.cid
  LIMIT 2
), cand AS (
  SELECT c.vec_id, c.qvec,
         CAST(list_sum(list_transform(range(1, len(c.code) + 1),
              i -> (c.code[i] - 128) * (q.qcode[i] - 128))) AS BIGINT)
           AS approx_score
  FROM celled c CROSS JOIN q
  WHERE c.cell IN (SELECT cid FROM probe)
  ORDER BY approx_score DESC, c.vec_id
  LIMIT 64
)
SELECT cand.vec_id, cand.approx_score,
       CAST(list_sum(list_transform(range(1, len(cand.qvec) + 1),
            i -> cand.qvec[i] * q.qv[i])) AS DOUBLE)
       / sqrt(CAST(list_sum(list_transform(cand.qvec, x -> x * x)) AS DOUBLE)
            * CAST(list_sum(list_transform(q.qv, x -> x * x)) AS DOUBLE))
         AS cosine_sim
FROM cand CROSS JOIN q
ORDER BY cosine_sim DESC, vec_id
LIMIT 10
"""


def lsh_index_screen_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-dedup TABLE SERVICE, full lifecycle (operators/
    lsh_index.py): index a versioned documents lake table (md5 hash
    family), commit a CDC batch (appended-text updates, deletes,
    exact-copy inserts), ``refresh_lsh_index`` incrementally, then
    screen a probe batch against the index — banding the PROBE only
    and joining the persisted signature relation; the corpus is never
    re-signed. The oracle replays the final corpus in closed form,
    re-derives every minhash band cross-engine (60-bit md5 family)
    and verifies candidates with exact Jaccard."""
    from rds_to_datalake_project_spark.operators.lsh_index import (
        build_lsh_index,
        lsh_neardups_for,
        refresh_lsh_index,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    spec = TableSpec(
        "docs_lsh",
        record_key=("doc_id",),
        precombine_key="update_at",
        partition_granularity=None,
    )
    t = KeyedTable(spark, _scratch("lsh_idx") + "/t", spec, retain_versions=3)
    t.initial_load(docs.withColumn("update_at", F.lit("v0")))  # v0
    build_lsh_index(t, hash_mode="md5")
    k = F.col("doc_id")
    updates = (
        docs.filter(k % 7 == 0)
        .withColumn("text", F.concat("text", F.lit(" appended marker words here")))
        .withColumn("Op", F.lit("U"))
    )
    deletes = docs.filter((k % 13 == 0) & (k % 7 != 0)).withColumn("Op", F.lit("D"))
    inserts = (
        docs.filter(k % 11 == 0)
        .withColumn("doc_id", k + F.lit(1_000_000))
        .withColumn("Op", F.lit("I"))
    )
    batch = (
        updates.unionByName(deletes)
        .unionByName(inserts)
        .withColumn("update_at", F.lit("v1"))
    )
    t.upsert(batch, delete_mode="apply")  # commit 1
    refresh_lsh_index(t, hash_mode="md5")  # deletes out, changed re-banded
    probe = docs.filter(k % 17 == 0).withColumn("doc_id", k + F.lit(2_000_000))
    return lsh_neardups_for(t, probe, threshold=0.5).orderBy(
        "batch_id", "corpus_id"
    )


def lsh_index_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-hash twin of :func:`lsh_index_screen_md5`: the
    identical index lifecycle (build → CDC commit → incremental
    refresh → probe screening) under the xxhash64 signature family —
    the fast path deployments run, benched as the service's headline
    number (bench.py). Rows-only driver check by declared contract:
    xxhash64 has no DuckDB twin; the md5 variant is the hash-checked
    oracle of the same code path (same convention as
    minhash_neardup / minhash_neardup_md5)."""
    return _lsh_index_serve(
        spark, sf_dir, _lsh_index_fixture(spark, sf_dir)
    )


def _lsh_index_fixture(spark: SparkSession, sf_dir: str) -> KeyedTable:
    from rds_to_datalake_project_spark.operators.lsh_index import (
        build_lsh_index,
        refresh_lsh_index,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    spec = TableSpec(
        "docs_lsh_prod",
        record_key=("doc_id",),
        precombine_key="update_at",
        partition_granularity=None,
    )
    t = KeyedTable(spark, _scratch("lsh_idx_prod") + "/t", spec, retain_versions=3)
    t.initial_load(docs.withColumn("update_at", F.lit("v0")))
    build_lsh_index(t)
    k = F.col("doc_id")
    updates = (
        docs.filter(k % 7 == 0)
        .withColumn("text", F.concat("text", F.lit(" appended marker words here")))
        .withColumn("Op", F.lit("U"))
    )
    deletes = docs.filter((k % 13 == 0) & (k % 7 != 0)).withColumn("Op", F.lit("D"))
    inserts = (
        docs.filter(k % 11 == 0)
        .withColumn("doc_id", k + F.lit(1_000_000))
        .withColumn("Op", F.lit("I"))
    )
    batch = (
        updates.unionByName(deletes)
        .unionByName(inserts)
        .withColumn("update_at", F.lit("v1"))
    )
    t.upsert(batch, delete_mode="apply")
    refresh_lsh_index(t)
    return t


def _lsh_index_serve(
    spark: SparkSession, sf_dir: str, t: KeyedTable
) -> DataFrame:
    from rds_to_datalake_project_spark.operators.lsh_index import lsh_neardups_for

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    k = F.col("doc_id")
    probe = docs.filter(k % 17 == 0).withColumn("doc_id", k + F.lit(2_000_000))
    return lsh_neardups_for(t, probe, threshold=0.5).orderBy(
        "batch_id", "corpus_id"
    )


LSH_INDEX_SCREEN_SQL = r"""
WITH final AS MATERIALIZED (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0
              THEN text || ' appended marker words here'
              ELSE text END AS text
  FROM documents
  WHERE NOT (doc_id % 13 = 0 AND doc_id % 7 <> 0)
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 11 = 0
), probe AS MATERIALIZED (
  SELECT doc_id + 2000000 AS doc_id, text FROM documents WHERE doc_id % 17 = 0
), allr AS MATERIALIZED (
  SELECT * FROM final UNION ALL SELECT * FROM probe
), sh AS MATERIALIZED (
  SELECT doc_id,
         list_distinct(
           list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
                          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
         ) AS shingles
  FROM (
    SELECT doc_id,
           string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
    FROM allr
  )
), ex AS (
  SELECT doc_id, s.sh AS sh FROM sh, unnest(shingles) AS s(sh)
), mh AS MATERIALIZED (
  SELECT doc_id, r.seed AS seed,
         MIN(CAST(('0x' || substring(md5(CAST(r.seed AS VARCHAR) || '|' || ex.sh), 1, 15)) AS BIGINT)) AS h
  FROM ex, range(0, 64) AS r(seed)
  GROUP BY doc_id, r.seed
), bandstr AS (
  SELECT doc_id, seed // 4 AS band,
         string_agg(CAST(h AS VARCHAR), ',' ORDER BY seed) AS bs
  FROM mh GROUP BY doc_id, seed // 4
), buckets AS MATERIALIZED (
  SELECT doc_id, band, CAST(('0x' || substring(md5(bs), 1, 15)) AS BIGINT) AS bucket
  FROM bandstr
), cand AS MATERIALIZED (
  SELECT DISTINCT p.doc_id AS batch_id, c.doc_id AS corpus_id
  FROM buckets p JOIN buckets c ON p.band = c.band AND p.bucket = c.bucket
  WHERE p.doc_id >= 2000000 AND c.doc_id < 2000000
)
SELECT batch_id, corpus_id, jaccard FROM (
  SELECT cand.batch_id, cand.corpus_id,
         CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
           / len(list_distinct(list_concat(sa.shingles, sb.shingles))) AS jaccard
  FROM cand
  JOIN sh sa ON sa.doc_id = cand.batch_id
  JOIN sh sb ON sb.doc_id = cand.corpus_id
)
WHERE jaccard >= 0.5
ORDER BY batch_id, corpus_id
"""


QUERIES = {
    "table_diff_report": table_diff_report,
    "time_travel_roundtrip": time_travel_roundtrip,
    "restore_table_roundtrip": restore_table_roundtrip,
    "dv_delete_roundtrip": dv_delete_roundtrip,
    "clone_table_roundtrip": clone_table_roundtrip,
    "scd2_orders_history": scd2_orders_history,
    "scd2_store_incremental": scd2_store_incremental,
    "pit_lineitem_price": pit_lineitem_price,
    "secondary_index_lookup": secondary_index_lookup,
    "secondary_index_range_scan": secondary_index_range_scan,
    "sidecar_service_status": sidecar_service_status,
    "read_where_routed": read_where_routed,
    "replicated_orders_checksums": replicated_orders_checksums,
    "stream_replicated_orders_checksums": stream_replicated_orders_checksums,
    "orders_partition_checksums": orders_partition_checksums,
    "lake_table_changes": lake_table_changes,
    "sql_timetravel_changed_counts": sql_timetravel_changed_counts,
    "dedup_latest_per_key": dedup_latest_per_key,
    "partition_enrich": partition_enrich,
    "partition_enrich_string": partition_enrich_string,
    "cdc_upsert_roundtrip": cdc_upsert_roundtrip,
    "concurrent_upsert_convergence": concurrent_upsert_convergence,
    "dynamodb_decode": dynamodb_decode,
    "windowed_counts": windowed_counts,
    "watermark_per_day": watermark_per_day,
    "events_json_props": events_json_props,
    "jsonl_roundtrip": jsonl_roundtrip,
    "delete_apply_roundtrip": delete_apply_roundtrip,
    "sessionize_events": sessionize_events,
    "asof_user_state": asof_user_state,
    "hypertable_rollup": hypertable_rollup,
    "zonemap_pruned_scan": zonemap_pruned_scan,
    "ann_index_served_topk": ann_index_served_topk,
    "lsh_index_screen_md5": lsh_index_screen_md5,
    "lsh_index_screen": lsh_index_screen,
    "ann_index_ivf_topk": ann_index_ivf_topk,
    "sql_dml_roundtrip": sql_dml_roundtrip,
    "purge_keep_history_asof": purge_keep_history_asof,
    "sql_merge_roundtrip": sql_merge_roundtrip,
    "bloom_pruned_lookup": bloom_pruned_lookup,
    "indexed_point_lookup": indexed_point_lookup,
}

ORACLES = {
    "zonemap_pruned_scan": ZONEMAP_SQL,
    "ann_index_served_topk": ANN_INDEX_SQL,
    "lsh_index_screen_md5": LSH_INDEX_SCREEN_SQL,
    "ann_index_ivf_topk": ANN_IVF_SQL,
    "sql_dml_roundtrip": SQL_DML_SQL,
    "purge_keep_history_asof": PURGE_KEEP_HISTORY_SQL,
    "sql_merge_roundtrip": SQL_MERGE_SQL,
    "bloom_pruned_lookup": BLOOM_LOOKUP_SQL,
    "indexed_point_lookup": INDEXED_LOOKUP_SQL,
    "table_diff_report": TABLE_DIFF_SQL,
    "time_travel_roundtrip": TIME_TRAVEL_SQL,
    "restore_table_roundtrip": RESTORE_SQL,
    "dv_delete_roundtrip": DV_DELETE_SQL,
    "clone_table_roundtrip": CLONE_SQL,
    "scd2_orders_history": SCD2_SQL,
    "scd2_store_incremental": SCD2_SQL,
    "pit_lineitem_price": PIT_SQL,
    "secondary_index_lookup": SECONDARY_LOOKUP_SQL,
    "secondary_index_range_scan": SECONDARY_RANGE_SQL,
    "sidecar_service_status": SERVICE_STATUS_SQL,
    "read_where_routed": READ_WHERE_SQL,
    "replicated_orders_checksums": REPLICATED_CHECKSUM_SQL,
    "stream_replicated_orders_checksums": REPLICATED_CHECKSUM_SQL,
    "orders_partition_checksums": CHECKSUM_SQL,
    "lake_table_changes": LAKE_CHANGES_SQL,
    "sql_timetravel_changed_counts": SQL_TIMETRAVEL_SQL,
    "dedup_latest_per_key": DEDUP_SQL,
    "partition_enrich": ENRICH_SQL,
    "partition_enrich_string": ENRICH_STRING_SQL,
    "cdc_upsert_roundtrip": UPSERT_RT_SQL,
    "concurrent_upsert_convergence": CONCURRENT_UPSERT_SQL,
    "dynamodb_decode": DYNAMODB_SQL,
    "windowed_counts": WINDOWED_COUNTS_SQL,
    "watermark_per_day": WATERMARK_SQL,
    "events_json_props": EVENTS_JSON_SQL,
    "jsonl_roundtrip": JSONL_RT_SQL,
    "delete_apply_roundtrip": DELETE_APPLY_SQL,
    "sessionize_events": SESSIONIZE_SQL,
    "asof_user_state": ASOF_SQL,
    "hypertable_rollup": ROLLUP_SQL,
}

# Lifecycle queries split into (build, serve) so the bench can
# attribute the wall: build = fixture table + commits + index
# maintenance (one-time cost, amortized over a table's life);
# serve = the probe/read under test (the recurring cost a regression
# would actually hit). QUERIES entries stay the composed function —
# the driver's correctness path is unchanged.
PHASES = {
    "secondary_index_lookup": (_secondary_index_fixture, _secondary_index_serve),
    "secondary_index_range_scan": (_secondary_range_fixture, _secondary_range_serve),
    "time_travel_roundtrip": (_versioned_orders, _time_travel_serve),
    "replicated_orders_checksums": (_replicated_fixture, _replicated_serve),
    "stream_replicated_orders_checksums": (
        _stream_replicated_fixture,
        _stream_replicated_serve,
    ),
    "ann_index_served_topk": (_ann_index_fixture, _ann_index_serve),
    "ann_index_ivf_topk": (_ann_ivf_fixture, _ann_ivf_serve),
    "lsh_index_screen": (_lsh_index_fixture, _lsh_index_serve),
    "indexed_point_lookup": (_indexed_lookup_fixture, _indexed_lookup_serve),
    "bloom_pruned_lookup": (_bloom_lookup_fixture, _bloom_lookup_serve),
    "concurrent_upsert_convergence": (
        _concurrent_upsert_fixture,
        _concurrent_upsert_serve,
    ),
    "restore_table_roundtrip": (_restore_fixture, _restore_serve),
    "dv_delete_roundtrip": (_dv_fixture, _dv_serve),
    "clone_table_roundtrip": (_clone_fixture, _clone_serve),
}
