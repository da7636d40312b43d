"""Governance query surface: declarative expectations, the gated
ingest, incremental materialized views, and stats-driven join
planning — round-8 first-class services, each with a DuckDB oracle
twin (conventions: plans/extensions.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rds_to_datalake_project_spark.functions.localrel import local_frame

from rds_to_datalake_project_spark.catalog import load_table
from rds_to_datalake_project_spark.operators import expectations as X
from rds_to_datalake_project_spark.operators import stats as ST
from rds_to_datalake_project_spark.operators.matview import MaterializedView
from rds_to_datalake_project_spark.operators.profile import profile_table
from rds_to_datalake_project_spark.operators.upsert import KeyedTable
from rds_to_datalake_project_spark.plans.cdc import _scratch
from rds_to_datalake_project_spark.plans.relational import _dsum
from rds_to_datalake_project_spark.schema import TableSpec

# --- declarative expectations: validation report -----------------------------

_ORDER_RULES = [
    X.not_null("o_custkey"),
    X.accepted_values("o_orderstatus", ["O", "F"]),
    X.in_range("o_totalprice", 0, 300000),
    X.matches("o_orderpriority", "^[1-5]-"),
    X.unique(["o_orderkey"]),
]


def expectations_orders_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-rule violation counts over orders — the declared-contract
    twin of the reference's eyeballed per-stage checks
    (glue_jobs/initial_load.py:77-85). One map-side annotate + one
    aggregation (operators/expectations.py)."""
    orders = load_table(spark, sf_dir, "orders")
    return X.expectations_report(orders, _ORDER_RULES).orderBy("rule")


EXPECTATIONS_SQL = """
WITH dup AS (
  SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) AS v FROM (
    SELECT COUNT(*) AS c FROM orders
    WHERE o_orderkey IS NOT NULL
    GROUP BY o_orderkey HAVING COUNT(*) > 1
  )
), n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM orders)
SELECT * FROM (
  SELECT 'accepted_values_o_orderstatus' AS rule,
         CAST(SUM(CASE WHEN NOT COALESCE(
             o_orderstatus IS NULL OR o_orderstatus IN ('O','F'), FALSE)
           THEN 1 ELSE 0 END) AS BIGINT) AS violations,
         (SELECT n_rows FROM n) AS n_rows
  FROM orders
  UNION ALL
  SELECT 'in_range_o_totalprice',
         CAST(SUM(CASE WHEN NOT COALESCE(
             o_totalprice IS NULL OR (o_totalprice >= 0 AND o_totalprice <= 300000),
             FALSE) THEN 1 ELSE 0 END) AS BIGINT),
         (SELECT n_rows FROM n)
  FROM orders
  UNION ALL
  SELECT 'matches_o_orderpriority',
         CAST(SUM(CASE WHEN NOT COALESCE(
             o_orderpriority IS NULL OR regexp_matches(o_orderpriority, '^[1-5]-'),
             FALSE) THEN 1 ELSE 0 END) AS BIGINT),
         (SELECT n_rows FROM n)
  FROM orders
  UNION ALL
  SELECT 'not_null_o_custkey',
         CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         (SELECT n_rows FROM n)
  FROM orders
  UNION ALL
  SELECT 'unique_o_orderkey', (SELECT v FROM dup), (SELECT n_rows FROM n)
)
ORDER BY rule
"""

# --- gated ingest ------------------------------------------------------------

_GATE_SPEC = TableSpec(
    "gated_orders",
    record_key=("o_orderkey",),
    precombine_key="update_at",
    partition_granularity="",  # scratch table: unpartitioned
)
_GATE_RULES = [
    X.in_range("o_totalprice", 0, 450000),
    X.accepted_values("o_orderstatus", ["O", "F"]),
]


def gated_upsert_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expectations as an ingest gate in front of the CDC merge:
    initial-load a keyed scratch table from 3/4 of orders, push the
    even-keyed half back through ``gated_ingest`` with repriced rows —
    violators (overpriced or non-O/F status) quarantine, clean rows
    merge. Emits per-(segment, status) counts over live ∪ quarantine
    so the oracle checks both routing AND merge results."""
    root = _scratch("gated_upsert")
    orders = load_table(spark, sf_dir, "orders")
    key = F.col("o_orderkey")
    base_cols = [key.alias("o_orderkey"), "o_orderstatus", "o_totalprice"]
    init = orders.filter(key % 4 != 0).select(
        *base_cols, F.lit("a").alias("update_at")
    )
    t = KeyedTable(spark, f"{root}/t", _GATE_SPEC)
    t.initial_load(init)
    batch = orders.filter(key % 2 == 0).select(
        key.alias("o_orderkey"),
        F.col("o_orderstatus"),
        (F.col("o_totalprice") + F.lit(150000.0)).alias("o_totalprice"),
        F.lit("b").alias("update_at"),
        F.lit("U").alias("Op"),
    )
    X.gated_ingest(t, batch, _GATE_RULES, f"{root}/quarantine", "b1")
    live = t.read().select(
        F.lit("live").alias("segment"), "o_orderstatus", "o_totalprice"
    )
    quar = spark.read.parquet(f"{root}/quarantine").select(
        F.lit("quarantined").alias("segment"), "o_orderstatus", "o_totalprice"
    )
    return (
        live.unionByName(quar)
        .groupBy("segment", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _dsum(F.col("o_totalprice")).alias("sum_price"),
        )
        .orderBy("segment", "o_orderstatus")
    )


GATED_SQL = """
WITH init AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice
  FROM orders WHERE o_orderkey % 4 <> 0
), batch AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice + 150000.0 AS o_totalprice
  FROM orders WHERE o_orderkey % 2 = 0
), clean AS (
  SELECT * FROM batch
  WHERE (o_totalprice >= 0 AND o_totalprice <= 450000)
    AND o_orderstatus IN ('O','F')
), quar AS (
  SELECT * FROM batch
  WHERE NOT ((o_totalprice >= 0 AND o_totalprice <= 450000)
             AND o_orderstatus IN ('O','F'))
), live AS (
  SELECT * FROM init WHERE o_orderkey NOT IN (SELECT o_orderkey FROM clean)
  UNION ALL
  SELECT * FROM clean
)
SELECT segment, o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_price
FROM (
  SELECT 'live' AS segment, o_orderstatus, o_totalprice FROM live
  UNION ALL
  SELECT 'quarantined', o_orderstatus, o_totalprice FROM quar
)
GROUP BY segment, o_orderstatus
ORDER BY segment, o_orderstatus
"""

# --- incremental materialized view -------------------------------------------

_MV_SPEC = TableSpec(
    "mv_base",
    record_key=("o_orderkey",),
    precombine_key="update_at",
    partition_granularity="",
)
_MV_AGGS = {
    "n_orders": "count(*)",
    "sum_price": "cast(sum(cast(o_totalprice as decimal(38,6))) as double)",
    "max_price": "max(o_totalprice)",
}


def matview_incremental_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """General incremental materialized view, end to end: full
    refresh over the initial load, then a CDC batch whose updates
    ROTATE rows between status groups (P→O→F→P, the case needing
    split pre/post images) and whose deletes shrink groups; the
    incremental refresh recomputes only touched groups
    (operators/matview.py). Returns the final view contents."""
    root = _scratch("matview_status")
    orders = load_table(spark, sf_dir, "orders")
    key = F.col("o_orderkey")
    init = orders.filter(key % 4 != 0).select(
        key.alias("o_orderkey"),
        "o_orderstatus",
        "o_totalprice",
        F.lit("a").alias("update_at"),
    )
    t = KeyedTable(spark, f"{root}/t", _MV_SPEC, retain_versions=3)
    t.initial_load(init)
    mv = MaterializedView(t, f"{root}/mv", ["o_orderstatus"], _MV_AGGS)
    mv.refresh()

    rotated = (
        F.when(F.col("o_orderstatus") == "P", "O")
        .when(F.col("o_orderstatus") == "O", "F")
        .otherwise("P")
    )
    updates = orders.filter(key % 3 == 0).select(
        key.alias("o_orderkey"),
        rotated.alias("o_orderstatus"),
        (F.col("o_totalprice") + F.lit(1000.0)).alias("o_totalprice"),
        F.lit("b").alias("update_at"),
        F.lit("U").alias("Op"),
    )
    deletes = orders.filter((key % 5 == 1) & (key % 3 != 0)).select(
        key.alias("o_orderkey"),
        "o_orderstatus",
        "o_totalprice",
        F.lit("b").alias("update_at"),
        F.lit("D").alias("Op"),
    )
    t.upsert(updates.unionByName(deletes), delete_mode="apply")
    mv.refresh()
    return mv.read().orderBy("o_orderstatus")


MATVIEW_SQL = """
WITH init AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice
  FROM orders WHERE o_orderkey % 4 <> 0
), upd AS (
  SELECT o_orderkey,
         CASE o_orderstatus WHEN 'P' THEN 'O' WHEN 'O' THEN 'F' ELSE 'P' END
           AS o_orderstatus,
         o_totalprice + 1000.0 AS o_totalprice
  FROM orders WHERE o_orderkey % 3 = 0
), del AS (
  SELECT o_orderkey FROM orders WHERE o_orderkey % 5 = 1 AND o_orderkey % 3 <> 0
), merged AS (
  SELECT * FROM init WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
  UNION ALL
  SELECT * FROM upd
), final AS (
  SELECT * FROM merged WHERE o_orderkey NOT IN (SELECT o_orderkey FROM del)
)
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_price,
       MAX(o_totalprice) AS max_price
FROM final
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""

def sql_matview_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The materialized-view lifecycle driven ENTIRELY through the SQL
    facade verbs (sql.py): CREATE MATERIALIZED VIEW ... GROUP BY over
    a registered KeyedTable, row-level DELETE + UPDATE DML on the
    base, REFRESH MATERIALIZED VIEW (incremental: only the touched
    status groups recompute), SELECT from the published temp view,
    DROP. Returns the refreshed view contents."""
    from rds_to_datalake_project_spark.sql import MATVIEWS, run_query

    root = _scratch("sql_matview")
    orders = load_table(spark, sf_dir, "orders")
    init = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.lit("a").alias("update_at"),
    )
    t = KeyedTable(spark, f"{root}/t", _MV_SPEC, retain_versions=4)
    t.initial_load(init)
    reg = {"mv_base": t}
    try:
        run_query(
            spark,
            "CREATE MATERIALIZED VIEW status_rev AS SELECT o_orderstatus, "
            "count(*) AS n_orders, "
            "cast(sum(cast(o_totalprice as decimal(38,6))) as double) AS sum_price "
            "FROM mv_base GROUP BY o_orderstatus",
            tables=reg,
        )
        run_query(
            spark,
            "DELETE FROM mv_base WHERE o_orderstatus = 'P'",
            tables=reg,
        )
        run_query(
            spark,
            "UPDATE mv_base SET o_totalprice = o_totalprice + 500.0, "
            "update_at = 'b' WHERE o_orderkey % 10 = 4",
            tables=reg,
        )
        run_query(spark, "REFRESH MATERIALIZED VIEW status_rev", tables=reg)
        out = run_query(
            spark,
            "SELECT o_orderstatus, n_orders, sum_price FROM status_rev",
            tables=reg,
        ).orderBy("o_orderstatus")
        rows = out.collect()  # materialize before DROP unbinds the view
        run_query(spark, "DROP MATERIALIZED VIEW status_rev", tables=reg)
        return local_frame(spark, rows, out.schema)
    finally:
        MATVIEWS.pop("status_rev", None)


SQL_MATVIEW_SQL = """
WITH init AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice
  FROM orders WHERE o_orderkey % 2 = 0
), kept AS (
  SELECT * FROM init WHERE o_orderstatus <> 'P'
), final AS (
  SELECT o_orderkey, o_orderstatus,
         CASE WHEN o_orderkey % 10 = 4 THEN o_totalprice + 500.0
              ELSE o_totalprice END AS o_totalprice
  FROM kept
)
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_price
FROM final
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""

# --- time-bucketed matview through the facade --------------------------------

_EV_MV_SPEC = TableSpec(
    "ev_base",
    record_key=("event_id",),
    precombine_key="update_at",
    partition_granularity="",
)


def sql_matview_time_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's actual rollup shape — time-bucketed aggregates
    served through SQL (rds_to_datalake/athena.py:16-64) — spelled
    through the facade's NEW expression GROUP BY (r10 VERDICT task #6):
    ``date_trunc('hour', ts) AS h ... GROUP BY h, event_type`` creates
    an incrementally-maintained view whose group key is DERIVED. DML
    (DELETE one event class, UPDATE a value slice) then an incremental
    REFRESH that recomputes only the touched hour buckets; result read
    from the published temp view."""
    from rds_to_datalake_project_spark.sql import MATVIEWS, run_query

    root = _scratch("sql_mv_bucket")
    init = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") % 3 != 0)
        .select("event_id", "ts", "event_type", "value", F.lit("a").alias("update_at"))
    )
    t = KeyedTable(spark, f"{root}/t", _EV_MV_SPEC, retain_versions=4)
    t.initial_load(init)
    reg = {"ev_base": t}
    try:
        run_query(
            spark,
            "CREATE MATERIALIZED VIEW ev_hourly AS SELECT "
            "CAST(date_trunc('hour', ts) AS TIMESTAMP) AS h, event_type, "
            "count(*) AS n_events, "
            "cast(sum(cast(value as decimal(38,6))) as double) AS total_value "
            "FROM ev_base GROUP BY h, event_type",
            tables=reg,
        )
        run_query(
            spark, "DELETE FROM ev_base WHERE event_type = 'purchase'", tables=reg
        )
        run_query(
            spark,
            "UPDATE ev_base SET value = value + 10.0, update_at = 'b' "
            "WHERE event_id % 10 = 4",
            tables=reg,
        )
        run_query(spark, "REFRESH MATERIALIZED VIEW ev_hourly", tables=reg)
        out = run_query(
            spark,
            "SELECT h, event_type, n_events, total_value FROM ev_hourly",
            tables=reg,
        ).orderBy("h", "event_type")
        rows = out.collect()  # materialize before DROP unbinds the view
        run_query(spark, "DROP MATERIALIZED VIEW ev_hourly", tables=reg)
        return local_frame(spark, rows, out.schema)
    finally:
        MATVIEWS.pop("ev_hourly", None)


SQL_MV_BUCKET_SQL = """
WITH init AS (
  SELECT event_id, ts, event_type, value
  FROM events WHERE event_id % 3 <> 0
), kept AS (
  SELECT * FROM init WHERE event_type <> 'purchase'
), final AS (
  SELECT ts, event_type,
         CASE WHEN event_id % 10 = 4 THEN value + 10.0 ELSE value END AS value
  FROM kept
)
SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS h,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
FROM final
GROUP BY 1, 2
ORDER BY h, event_type
"""

# --- delta-merge matview ------------------------------------------------------

_DMV_SPEC = TableSpec(
    "dmv_base",
    record_key=("o_orderkey",),
    precombine_key="update_at",
    partition_granularity="",
)


def delta_matview_priority_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-merge IVM (operators/matview.py:DeltaMaterializedView):
    a per-priority COUNT/SUM view maintained by signed-delta
    arithmetic over the change window — the refresh never re-reads the
    base (refresh I/O ∝ change set, vs affected-group recompute's ∝
    touched groups' rows). The commit mixes disjoint classes: deletes
    (%10=2), a GROUP-MOVING priority rewrite (%10=4 → a NEW group, so
    both the vacated groups and an unseen group take signed deltas),
    and an in-place reprice (%10=6). DECIMAL sums make the merged
    values bit-identical to recomputation; the oracle states the final
    aggregate in closed form."""
    return _dmv_serve(spark, sf_dir, _dmv_fixture(spark, sf_dir))


def _dmv_fixture(spark: SparkSession, sf_dir: str):
    from rds_to_datalake_project_spark.operators.matview import (
        DeltaMaterializedView,
    )

    root = _scratch("delta_mv")
    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    init = base.filter(F.col("o_orderkey") % 2 == 0).withColumn(
        "update_at", F.lit("a")
    )
    t = KeyedTable(spark, f"{root}/t", _DMV_SPEC, retain_versions=4)
    t.initial_load(init)
    view = DeltaMaterializedView(
        t,
        f"{root}/v",
        ["o_orderpriority"],
        {
            "n_orders": "count(*)",
            "revenue": "sum(CAST(o_totalprice AS DECIMAL(38,6)))",
        },
    )
    view.refresh()  # full
    k = F.col("o_orderkey")
    moved = (
        init.filter(k % 10 == 4)
        .withColumn("o_orderpriority", F.lit("9-MOVED"))
        .withColumn("Op", F.lit("U"))
    )
    repriced = (
        init.filter(k % 10 == 6)
        .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(500.0))
        .withColumn("Op", F.lit("U"))
    )
    deletes = init.filter(k % 10 == 2).withColumn("Op", F.lit("D"))
    t.upsert(
        moved.unionByName(repriced)
        .unionByName(deletes)
        .withColumn("update_at", F.lit("b")),
        delete_mode="apply",
    )
    info = view.refresh()
    assert info["mode"] == "delta", info
    return view


def _dmv_serve(spark: SparkSession, sf_dir: str, view) -> DataFrame:
    return (
        view.read()
        .select(
            "o_orderpriority",
            "n_orders",
            F.col("revenue").cast("double").alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )


DELTA_MV_SQL = """
WITH init AS (
  SELECT o_orderkey, o_orderpriority, o_totalprice
  FROM orders WHERE o_orderkey % 2 = 0
), kept AS (
  SELECT * FROM init WHERE o_orderkey % 10 <> 2
), final AS (
  SELECT CASE WHEN o_orderkey % 10 = 4 THEN '9-MOVED'
              ELSE o_orderpriority END AS o_orderpriority,
         CASE WHEN o_orderkey % 10 = 6 THEN o_totalprice + 500.0
              ELSE o_totalprice END AS o_totalprice
  FROM kept
)
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS revenue
FROM final
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""

# --- signed-delta LEFT-join IVM -------------------------------------------------

_LDJ_ORD_SPEC = TableSpec(
    "ldj_orders",
    record_key=("o_orderkey",),
    precombine_key="update_at",
    partition_granularity="",
)
_LDJ_CUST_SPEC = TableSpec(
    "ldj_cust",
    record_key=("c_custkey",),
    precombine_key="c_upd",
    partition_granularity="",
)


def left_delta_matview_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signed-delta LEFT-join IVM (operators/matview.py:
    DeltaJoinMaterializedView(how='left')): revenue per market segment
    over orders LEFT JOIN customer, where a third of the customers are
    missing at load (their orders aggregate into the NULL segment).
    One multi-commit window mixes every dangling transition: order
    deletes and reprices, NEW customers adopting previously dangling
    orders (0→pos match flips the fact feed says nothing about), and
    customer deletes re-dangling their orders (pos→0). The refresh is
    pure signed arithmetic plus key-neighborhood reads — never a base
    recompute; the oracle states the final LEFT join in closed form."""
    return _ldj_serve(spark, sf_dir, _ldj_fixture(spark, sf_dir))


def _ldj_fixture(spark: SparkSession, sf_dir: str):
    from rds_to_datalake_project_spark.operators.matview import (
        DeltaJoinMaterializedView,
    )

    root = _scratch("left_delta_join_mv")
    orders = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .filter(F.col("o_orderkey") % 2 == 0)  # half-size fixture
        .withColumn("update_at", F.lit("a"))
    )
    cust = (
        load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_mktsegment")
        .withColumn("c_upd", F.lit("a"))
    )
    lt = KeyedTable(spark, f"{root}/o", _LDJ_ORD_SPEC, retain_versions=6)
    lt.initial_load(orders)
    rt = KeyedTable(spark, f"{root}/c", _LDJ_CUST_SPEC, retain_versions=6)
    rt.initial_load(cust.filter(F.col("c_custkey") % 3 != 0))
    view = DeltaJoinMaterializedView(
        lt,
        rt,
        f"{root}/v",
        on=("o_custkey", "c_custkey"),
        group_cols=["c_mktsegment"],
        aggs={
            "n": "count(*)",
            "rev": "sum(CAST(o_totalprice AS DECIMAL(38,6)))",
            "n_m": "count(c_mktsegment)",
        },
        how="left",
    )
    view.refresh()  # full
    k = F.col("o_orderkey")
    lt.upsert(
        orders.filter(k % 10 == 2)
        .withColumn("Op", F.lit("D"))
        .unionByName(
            orders.filter(k % 10 == 6)
            .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(100.0))
            .withColumn("Op", F.lit("U"))
        )
        .withColumn("update_at", F.lit("b")),
        delete_mode="apply",
    )
    c = F.col("c_custkey")
    rt.upsert(  # match births: absent-at-load customers appear
        cust.filter((c % 3 == 0) & (c % 5 == 0))
        .withColumn("Op", F.lit("I"))
        .withColumn("c_upd", F.lit("b")),
        delete_mode="apply",
    )
    rt.upsert(  # match deaths: %7 customers vanish, re-dangling orders
        cust.filter(c % 7 == 0)
        .withColumn("Op", F.lit("D"))
        .withColumn("c_upd", F.lit("c")),
        delete_mode="apply",
    )
    info = view.refresh()  # one multi-commit window, both feeds
    assert info["mode"] == "delta", info
    return view


def _ldj_serve(spark: SparkSession, sf_dir: str, view) -> DataFrame:
    return (
        view.read()
        .select(
            "c_mktsegment",
            "n",
            F.col("rev").cast("double").alias("rev"),
            "n_m",
        )
        .orderBy("c_mktsegment")
    )


LEFT_DELTA_JMV_SQL = """
WITH ords AS (
  SELECT o_orderkey, o_custkey,
         CASE WHEN o_orderkey % 10 = 6 THEN o_totalprice + 100.0
              ELSE o_totalprice END AS o_totalprice
  FROM orders WHERE o_orderkey % 2 = 0 AND o_orderkey % 10 <> 2
), cust AS (
  SELECT c_custkey, c_mktsegment FROM customer
  WHERE ((c_custkey % 3 <> 0) OR (c_custkey % 5 = 0))
    AND c_custkey % 7 <> 0
)
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS rev,
       CAST(COUNT(c_mktsegment) AS BIGINT) AS n_m
FROM ords LEFT JOIN cust ON o_custkey = c_custkey
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""

# --- LEFT-hop chain IVM ----------------------------------------------------------

_LCH_ORD = TableSpec(
    "lch_orders",
    record_key=("o_orderkey",),
    precombine_key="update_at",
    partition_granularity="",
)
_LCH_CUST = TableSpec(
    "lch_cust",
    record_key=("c_custkey",),
    precombine_key="c_upd",
    partition_granularity="",
)
_LCH_NAT = TableSpec(
    "lch_nat",
    record_key=("n_nationkey",),
    precombine_key="n_upd",
    partition_granularity="",
)


def left_chain_matview_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT-hop chain IVM (operators/matview.py:
    ChainMaterializedView(hows=['left','left'])): revenue per nation
    over orders ⟕ customer ⟕ nation with a third of the customers and
    a fifth of the nations absent at load — orders without a customer
    land in the all-NULL group; customers without a nation keep their
    orders under a NULL nation name. The window exercises every LEFT
    transition at once: order deletes/reprices, NEW customers adopting
    dangling orders, a customer delete re-dangling its orders, and a
    nation appearing (orders two hops away leave the NULL-name group
    though neither the order nor customer feed says so). Closed-form
    LEFT-join oracle."""
    return _lch_serve(spark, sf_dir, _lch_fixture(spark, sf_dir))


def _lch_fixture(spark: SparkSession, sf_dir: str):
    from rds_to_datalake_project_spark.operators.matview import (
        ChainMaterializedView,
    )

    root = _scratch("left_chain_mv")
    orders = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .filter(F.col("o_orderkey") % 2 == 0)  # half-size fixture
        .withColumn("update_at", F.lit("a"))
    )
    cust = (
        load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_nationkey")
        .withColumn("c_upd", F.lit("a"))
    )
    nat = (
        load_table(spark, sf_dir, "nation")
        .select("n_nationkey", "n_name")
        .withColumn("n_upd", F.lit("a"))
    )
    ot = KeyedTable(spark, f"{root}/o", _LCH_ORD, retain_versions=6)
    ot.initial_load(orders)
    ct = KeyedTable(spark, f"{root}/c", _LCH_CUST, retain_versions=6)
    ct.initial_load(cust.filter(F.col("c_custkey") % 3 != 0))
    nt = KeyedTable(spark, f"{root}/n", _LCH_NAT, retain_versions=6)
    nt.initial_load(nat.filter(F.col("n_nationkey") % 5 != 0))
    view = ChainMaterializedView(
        [ot, ct, nt],
        on=[("o_custkey", "c_custkey"), ("c_nationkey", "n_nationkey")],
        path=f"{root}/v",
        group_cols=["n_name"],
        aggs={
            "n": "count(*)",
            "rev": "sum(CAST(o_totalprice AS DECIMAL(38,6)))",
            "n_c": "count(c_custkey)",
        },
        hows=["left", "left"],
    )
    view.refresh()  # full
    k = F.col("o_orderkey")
    ot.upsert(
        orders.filter(k % 10 == 2)
        .withColumn("Op", F.lit("D"))
        .unionByName(
            orders.filter(k % 10 == 6)
            .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(100.0))
            .withColumn("Op", F.lit("U"))
        )
        .withColumn("update_at", F.lit("b")),
        delete_mode="apply",
    )
    c = F.col("c_custkey")
    ct.upsert(  # births adopting dangling orders
        cust.filter((c % 3 == 0) & (c % 5 == 0))
        .withColumn("Op", F.lit("I"))
        .withColumn("c_upd", F.lit("b")),
        delete_mode="apply",
    )
    ct.upsert(  # deaths re-dangling their orders (separate commit —
        # an insert+delete of the same key in one batch ties on the
        # precombine value)
        cust.filter(c % 7 == 0)
        .withColumn("Op", F.lit("D"))
        .withColumn("c_upd", F.lit("c")),
        delete_mode="apply",
    )
    nt.upsert(  # nation births: far-dim adoption two hops from orders
        nat.filter(F.col("n_nationkey") % 5 == 0)
        .withColumn("Op", F.lit("I"))
        .withColumn("n_upd", F.lit("b")),
        delete_mode="apply",
    )
    info = view.refresh()  # one window, all three feeds
    assert info["mode"] == "incremental", info
    return view


def _lch_serve(spark: SparkSession, sf_dir: str, view) -> DataFrame:
    return (
        view.read()
        .select(
            "n_name",
            "n",
            F.col("rev").cast("double").alias("rev"),
            "n_c",
        )
        .orderBy("n_name")
    )


LEFT_CHAIN_MV_SQL = """
WITH ords AS (
  SELECT o_orderkey, o_custkey,
         CASE WHEN o_orderkey % 10 = 6 THEN o_totalprice + 100.0
              ELSE o_totalprice END AS o_totalprice
  FROM orders WHERE o_orderkey % 2 = 0 AND o_orderkey % 10 <> 2
), cust AS (
  SELECT c_custkey, c_nationkey FROM customer
  WHERE ((c_custkey % 3 <> 0) OR (c_custkey % 5 = 0))
    AND c_custkey % 7 <> 0
)
SELECT n_name,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS rev,
       CAST(COUNT(c_custkey) AS BIGINT) AS n_c
FROM ords
LEFT JOIN cust ON o_custkey = c_custkey
LEFT JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
ORDER BY n_name
"""

# --- matview-backed SELECT rewriting (aggregate navigation) --------------------

_RWQ_SPEC = TableSpec(
    "rwq_base",
    record_key=("o_orderkey",),
    precombine_key="update_at",
    partition_granularity="",
)


def matview_rewrite_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate navigation (rewrite.py): a plain GROUP BY SELECT over
    the BASE table name is answered from a FRESH materialized view's
    store — the rollup mode re-aggregates the view's (priority, status)
    groups down to per-priority rows under a WHERE on a group column,
    after a CDC commit (deletes + reprice) that the AUTO hook folded
    into the view. The serve RAISES if the rewrite did not fire, so
    this row pins the serving path, not just the values; the oracle
    states the post-DML aggregate in closed form over the base."""
    return _rwq_serve(spark, sf_dir, _rwq_fixture(spark, sf_dir))


def _rwq_fixture(spark: SparkSession, sf_dir: str):
    from rds_to_datalake_project_spark.sql import MATVIEWS, run_query

    root = _scratch("mv_rewrite")
    init = (
        load_table(spark, sf_dir, "orders")
        .select(
            "o_orderkey", "o_orderpriority", "o_orderstatus", "o_totalprice"
        )
        .filter(F.col("o_orderkey") % 2 == 0)  # half-size fixture
        .withColumn("update_at", F.lit("a"))
    )
    t = KeyedTable(spark, f"{root}/t", _RWQ_SPEC, retain_versions=4)
    t.initial_load(init)
    MATVIEWS.pop("rw_rollup_v", None)
    run_query(
        spark,
        "CREATE MATERIALIZED VIEW rw_rollup_v WITH AUTO REFRESH AS "
        "SELECT o_orderpriority, o_orderstatus, "
        "sum(CAST(o_totalprice AS DECIMAL(38,6))) AS rev, count(*) AS cnt, "
        "min(o_totalprice) AS lo, max(o_totalprice) AS hi "
        "FROM rwq_orders GROUP BY o_orderpriority, o_orderstatus",
        tables={"rwq_orders": t},
    )
    k = F.col("o_orderkey")
    t.upsert(
        init.filter(k % 10 == 2)
        .withColumn("Op", F.lit("D"))
        .unionByName(
            init.filter(k % 10 == 6)
            .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(500.0))
            .withColumn("Op", F.lit("U"))
        )
        .withColumn("update_at", F.lit("b")),
        delete_mode="apply",
    )
    return t


def _rwq_serve(spark: SparkSession, sf_dir: str, t) -> DataFrame:
    from rds_to_datalake_project_spark import rewrite
    from rds_to_datalake_project_spark.sql import run_query

    out = run_query(
        spark,
        "SELECT o_orderpriority, "
        "sum(CAST(o_totalprice AS DECIMAL(38,6))) AS rev, count(*) AS cnt, "
        "min(o_totalprice) AS lo, max(o_totalprice) AS hi "
        "FROM rwq_orders WHERE o_orderstatus = 'O' GROUP BY o_orderpriority",
        tables={"rwq_orders": t},
    )
    hit = rewrite.LAST_SELECT_REWRITE
    if not hit or hit.get("view") != "rw_rollup_v" or hit.get("mode") != "rollup":
        raise RuntimeError(f"matview rewrite did not serve the query: {hit}")
    return out.select(
        "o_orderpriority",
        F.col("rev").cast("double").alias("rev"),
        "cnt",
        "lo",
        "hi",
    ).orderBy("o_orderpriority")


MV_REWRITE_SQL = """
WITH kept AS (
  SELECT o_orderpriority, o_orderstatus,
         CASE WHEN o_orderkey % 10 = 6 THEN o_totalprice + 500.0
              ELSE o_totalprice END AS o_totalprice
  FROM orders WHERE o_orderkey % 2 = 0 AND o_orderkey % 10 <> 2
)
SELECT o_orderpriority,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS rev,
       CAST(COUNT(*) AS BIGINT) AS cnt,
       MIN(o_totalprice) AS lo,
       MAX(o_totalprice) AS hi
FROM kept
WHERE o_orderstatus = 'O'
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""

# --- hierarchical bucket rollup through the rewriter ----------------------------

_RWH_SPEC = TableSpec(
    "rwh_base",
    record_key=("event_id",),
    precombine_key="update_at",
    partition_granularity="",
)


def matview_rewrite_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical time-bucket rollup (rewrite.py): a DAILY GROUP BY
    over the base table is served from an HOURLY materialized view by
    re-truncating the hour keys — the continuous-aggregate cascade
    without materializing the daily level. The fixture commits deletes
    + revalues (AUTO refresh folds them in); the serve RAISES unless
    the hourly view answered in rollup mode; the oracle states the
    post-DML daily aggregate in closed form."""
    return _rwh_serve(spark, sf_dir, _rwh_fixture(spark, sf_dir))


def _rwh_fixture(spark: SparkSession, sf_dir: str):
    from rds_to_datalake_project_spark.sql import MATVIEWS, run_query

    root = _scratch("mv_rewrite_hier")
    init = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "ts", "value")
        .withColumn("update_at", F.lit("a"))
    )
    t = KeyedTable(spark, f"{root}/t", _RWH_SPEC, retain_versions=4)
    t.initial_load(init)
    MATVIEWS.pop("rw_ev_hourly", None)
    run_query(
        spark,
        "CREATE MATERIALIZED VIEW rw_ev_hourly WITH AUTO REFRESH AS "
        "SELECT date_trunc('hour', ts) AS h, "
        "sum(CAST(value AS DECIMAL(38,6))) AS sv, count(*) AS n "
        "FROM rwh_events GROUP BY h",
        tables={"rwh_events": t},
    )
    k = F.col("event_id")
    t.upsert(
        init.filter(k % 10 == 3)
        .withColumn("Op", F.lit("D"))
        .unionByName(
            init.filter(k % 10 == 7)
            .withColumn("value", F.col("value") + F.lit(5.0))
            .withColumn("Op", F.lit("U"))
        )
        .withColumn("update_at", F.lit("b")),
        delete_mode="apply",
    )
    return t


def _rwh_serve(spark: SparkSession, sf_dir: str, t) -> DataFrame:
    from rds_to_datalake_project_spark import rewrite
    from rds_to_datalake_project_spark.sql import run_query

    out = run_query(
        spark,
        "SELECT date_trunc('day', ts) AS d, "
        "sum(CAST(value AS DECIMAL(38,6))) AS sv, count(*) AS n "
        "FROM rwh_events GROUP BY d",
        tables={"rwh_events": t},
    )
    hit = rewrite.LAST_SELECT_REWRITE
    if (
        not hit
        or hit.get("view") != "rw_ev_hourly"
        or hit.get("mode") != "rollup"
    ):
        raise RuntimeError(f"hierarchy rewrite did not serve the query: {hit}")
    return out.select(
        "d", F.col("sv").cast("double").alias("sv"), "n"
    ).orderBy("d")


MV_REWRITE_HIER_SQL = """
WITH kept AS (
  SELECT ts,
         CASE WHEN event_id % 10 = 7 THEN value + 5.0 ELSE value END AS value
  FROM events WHERE event_id % 10 <> 3
)
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d,
       CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sv,
       CAST(COUNT(*) AS BIGINT) AS n
FROM kept
GROUP BY 1
ORDER BY d
"""

# --- zone-pruned recompute refresh ---------------------------------------------

_PMR_SPEC = TableSpec(
    "pmr_base",
    record_key=("o_orderkey",),
    precombine_key="update_at",
    partition_source="o_orderdate",
    partition_granularity="month",
)

_PMR_LO, _PMR_HI = "1995-03-01", "1995-03-31 23:59:59"


def pruned_matview_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-pruned recompute refresh (operators/matview.py::
    _zone_pruned_rows): a per-day revenue rollup over a
    MONTH-partitioned, zone-mapped orders table takes a change window
    confined to one month (repricing + deletes inside 1995-03); the
    incremental refresh reads base FILES ∝ the touched dates' zones —
    1/~80 at sf0.01 — instead of the corpus-sized scan every refresh
    paid before round 12 (r11 VERDICT "What's wrong" #1). The oracle
    states the post-DML daily aggregate in closed form; bench `skips`
    records files_read/files_total per refresh."""
    return _pmr_serve(spark, sf_dir, _pmr_fixture(spark, sf_dir))


def _pmr_fixture(spark: SparkSession, sf_dir: str):
    root = _scratch("pruned_mv")
    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_totalprice"
    )
    t = KeyedTable(
        spark,
        f"{root}/t",
        _PMR_SPEC,
        retain_versions=4,
        zonemap_columns=["o_orderdate"],
    )
    # co-locate each month before the load: one file per partition dir
    # (tight date zones, no small-files amplification across 80+ dirs)
    t.initial_load(
        base.withColumn("update_at", F.lit("a")).repartition(
            32, F.date_format("o_orderdate", "yyyy-MM")
        )
    )
    view = MaterializedView(
        t,
        f"{root}/v",
        ["o_orderdate"],
        {
            "n_orders": "count(*)",
            "revenue": "sum(CAST(o_totalprice AS DECIMAL(38,6)))",
        },
    )
    view.refresh()  # full
    k = F.col("o_orderkey")
    in_month = F.col("o_orderdate").between(
        F.to_timestamp(F.lit(_PMR_LO)), F.to_timestamp(F.lit(_PMR_HI))
    )
    window = base.filter(in_month).withColumn("update_at", F.lit("b"))
    repriced = (
        window.filter(k % 7 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(100.0))
        .withColumn("Op", F.lit("U"))
    )
    deletes = window.filter((k % 11 == 0) & (k % 7 != 0)).withColumn(
        "Op", F.lit("D")
    )
    t.upsert(repriced.unionByName(deletes), delete_mode="apply")
    info = view.refresh()
    assert info["mode"] == "incremental", info
    return view


def _pmr_serve(spark: SparkSession, sf_dir: str, view) -> DataFrame:
    return (
        view.read()
        .select(
            "o_orderdate",
            "n_orders",
            F.col("revenue").cast("double").alias("revenue"),
        )
        .orderBy("o_orderdate")
    )


PRUNED_MV_SQL = f"""
WITH final AS (
  SELECT o_orderdate,
         CASE WHEN o_orderdate BETWEEN TIMESTAMP '{_PMR_LO}'
                                   AND TIMESTAMP '{_PMR_HI}'
                   AND o_orderkey % 7 = 0
              THEN o_totalprice + 100.0 ELSE o_totalprice END AS o_totalprice
  FROM orders
  WHERE NOT (o_orderdate BETWEEN TIMESTAMP '{_PMR_LO}'
                             AND TIMESTAMP '{_PMR_HI}'
             AND o_orderkey % 11 = 0 AND o_orderkey % 7 <> 0)
)
SELECT o_orderdate,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS revenue
FROM final
GROUP BY o_orderdate
ORDER BY o_orderdate
"""

# --- N-table chain join view --------------------------------------------------


def chain_matview_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-table chain IVM (operators/matview.py:ChainMaterializedView):
    per-nation revenue over orders ⋈ customer ⋈ nation, maintained by
    post-commit hooks from ALL THREE feeds. The commits exercise every
    propagation depth: a fact delete (depth 0), a MID-CHAIN nation
    re-key on customer (depth 1 — every joined order moves nation
    though neither the order nor the nation feed says so), and a
    FAR-DIM rename on nation (depth 2 — a group-label move reaching
    the fact only through two semi-join hops). Oracle: the final join
    aggregate in closed form."""
    return _chain_mv_serve(spark, sf_dir, _chain_mv_fixture(spark, sf_dir))


def _chain_mv_fixture(spark: SparkSession, sf_dir: str):
    from rds_to_datalake_project_spark.operators.matview import (
        ChainMaterializedView,
        attach_chain_matview_maintenance,
    )

    root = _scratch("chain_mv")

    def _kt(name, key, df):
        t = KeyedTable(
            spark,
            f"{root}/{name}",
            TableSpec(
                name,
                record_key=(key,),
                precombine_key="seq",
                partition_granularity=None,
            ),
            retain_versions=4,
        )
        t.initial_load(df.withColumn("seq", F.lit(0).cast("long")))
        return t

    o_base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    c_base = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    n_base = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    o = _kt("orders_chain", "o_orderkey", o_base)
    c = _kt("customer_chain", "c_custkey", c_base)
    n = _kt("nation_chain", "n_nationkey", n_base)
    view = ChainMaterializedView(
        [o, c, n],
        on=[("o_custkey", "c_custkey"), ("c_nationkey", "n_nationkey")],
        path=f"{root}/v",
        group_cols=["n_name"],
        aggs={
            "n_orders": "CAST(count(*) AS BIGINT)",
            "revenue": (
                "CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)"
            ),
        },
    )
    view.refresh()
    attach_chain_matview_maintenance(view)
    k = F.col("o_orderkey")
    o.upsert(
        o_base.filter(k % 9 == 0)
        .withColumn("Op", F.lit("D"))
        .withColumn("seq", F.lit(1).cast("long")),
        delete_mode="apply",
    )
    ck = F.col("c_custkey")
    c.upsert(
        c_base.filter(ck % 6 == 0)
        .withColumn("c_nationkey", (F.col("c_nationkey") + F.lit(7)) % 25)
        .withColumn("Op", F.lit("U"))
        .withColumn("seq", F.lit(1).cast("long"))
    )
    nk = F.col("n_nationkey")
    n.upsert(
        n_base.filter(nk % 5 == 0)
        .withColumn("n_name", F.concat(F.col("n_name"), F.lit("_X")))
        .withColumn("Op", F.lit("U"))
        .withColumn("seq", F.lit(1).cast("long"))
    )
    return view


def _chain_mv_serve(spark: SparkSession, sf_dir: str, view) -> DataFrame:
    return (
        view.read()
        .select("n_name", "n_orders", "revenue")
        .orderBy("n_name")
    )


CHAIN_MV_SQL = """
WITH o AS (
  SELECT o_custkey, o_totalprice FROM orders WHERE o_orderkey % 9 <> 0
), c AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 6 = 0 THEN (c_nationkey + 7) % 25
              ELSE c_nationkey END AS c_nationkey
  FROM customer
), n AS (
  SELECT n_nationkey,
         CASE WHEN n_nationkey % 5 = 0 THEN n_name || '_X'
              ELSE n_name END AS n_name
  FROM nation
)
SELECT n.n_name,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS revenue
FROM o JOIN c ON o.o_custkey = c.c_custkey
       JOIN n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
ORDER BY n.n_name
"""

# --- stats-driven join planning ----------------------------------------------

_BCAST_MAX_ROWS = 2000
_SKEW_ROWS_PER_KEY = 4

_ADVISORY_PAIRS = [
    # (pair label, left table, left key, right table, right key)
    ("lineitem_orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem_rflag_orders_status", "lineitem", "l_returnflag", "orders", "o_orderstatus"),
    ("orders_customer", "orders", "o_custkey", "customer", "c_custkey"),
]


def stats_join_advisory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-strategy decisions from exact table statistics — the
    static cost-model twin of AQE's runtime choices
    (operators/stats.advise_join): broadcast the under-threshold
    side, salt when the big side's rows-per-key says the keyspace
    can't hash-partition evenly, else plain shuffle. The oracle
    recomputes counts, NDVs, and the same decision rules in SQL, so
    the decision procedure itself is hash-checked."""
    rows = []
    for pair, lt, lk, rt, rk in _ADVISORY_PAIRS:
        lstats = profile_table(
            load_table(spark, sf_dir, lt).select(lk), exact_distinct=True
        )
        rstats = profile_table(
            load_table(spark, sf_dir, rt).select(rk), exact_distinct=True
        )
        a = ST.advise_join(
            lstats,
            rstats,
            lk,
            rk,
            broadcast_max_rows=_BCAST_MAX_ROWS,
            skew_rows_per_key=_SKEW_ROWS_PER_KEY,
        )
        rows.append(
            (
                pair,
                a["left_rows"],
                a["right_rows"],
                a["left_key_ndv"],
                a["right_key_ndv"],
                a["strategy"],
                a["broadcast_side"],
            )
        )
    return local_frame(
        spark,
        rows,
        "pair string, left_rows bigint, right_rows bigint, "
        "left_key_ndv bigint, right_key_ndv bigint, "
        "strategy string, broadcast_side string",
    ).orderBy("pair")


def _advisory_pair_sql(pair: str, lt: str, lk: str, rt: str, rk: str) -> str:
    return f"""
  SELECT '{pair}' AS pair, lr AS left_rows, rr AS right_rows,
         lndv AS left_key_ndv, rndv AS right_key_ndv,
         CASE WHEN LEAST(lr, rr) <= {_BCAST_MAX_ROWS} THEN 'broadcast'
              WHEN (CASE WHEN lr >= rr THEN lr ELSE rr END)
                   // GREATEST(CASE WHEN lr >= rr THEN lndv ELSE rndv END, 1)
                   > {_SKEW_ROWS_PER_KEY} THEN 'salted'
              ELSE 'shuffle' END AS strategy,
         CASE WHEN LEAST(lr, rr) <= {_BCAST_MAX_ROWS}
              THEN CASE WHEN lr <= rr THEN 'left' ELSE 'right' END
              ELSE NULL END AS broadcast_side
  FROM (SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM {lt}) AS lr,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM {rt}) AS rr,
               (SELECT CAST(COUNT(DISTINCT {lk}) AS BIGINT) FROM {lt}) AS lndv,
               (SELECT CAST(COUNT(DISTINCT {rk}) AS BIGINT) FROM {rt}) AS rndv)
"""


ADVISORY_SQL = (
    "SELECT * FROM (\n"
    + "\n  UNION ALL\n".join(
        _advisory_pair_sql(*p) for p in _ADVISORY_PAIRS
    )
    + "\n) ORDER BY pair"
)


def fk_violation_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit
    (operators/expectations.py:referential_violations): count child
    rows whose FK resolves to no parent, against parents with
    deterministic gaps punched in (custkey%3==0 and partkey%5==0
    dropped) so the violation sets are non-trivial and closed-form."""
    from rds_to_datalake_project_spark.operators.expectations import (
        referential_violations,
    )

    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_custkey") % 3 != 0
    )
    part = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") % 5 != 0)
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")

    v1 = referential_violations(orders, cust, {"o_custkey": "c_custkey"})
    v2 = referential_violations(li, part, {"l_partkey": "p_partkey"})
    out1 = v1.agg(
        F.lit("orders->customer").alias("relation"),
        F.count("*").alias("n_violations"),
    )
    out2 = v2.agg(
        F.lit("lineitem->part").alias("relation"),
        F.count("*").alias("n_violations"),
    )
    return out1.unionByName(out2).orderBy("relation")


FK_VIOLATIONS_SQL = """
SELECT 'lineitem->part' AS relation, COUNT(*) AS n_violations
FROM lineitem WHERE l_partkey IS NOT NULL AND l_partkey % 5 = 0
UNION ALL
SELECT 'orders->customer', COUNT(*)
FROM orders WHERE o_custkey IS NOT NULL AND o_custkey % 3 = 0
ORDER BY relation
"""


def join_matview_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally maintained JOIN view (operators/matview.py:
    JoinMaterializedView): per-nation order counts + revenue over
    orders ⋈ customer, followed through one commit on EACH side —
    a fact-side reprice+delete and a dimension-side nation MOVE (the
    group-relabeling case no single-table feed can name). Maintenance
    hooks fire per commit; the oracle recomputes the final join
    aggregate in closed form, so a hash match proves affected-group
    recompute ≡ full recomputation across both feeds. Revenue uses
    the proven decimal-sum-then-double pattern (order-independent,
    bit-stable cross-engine)."""
    return _join_matview_serve(
        spark, sf_dir, _join_matview_fixture(spark, sf_dir)
    )


def _join_matview_fixture(spark: SparkSession, sf_dir: str):
    from rds_to_datalake_project_spark.operators.matview import (
        JoinMaterializedView,
        attach_join_matview_maintenance,
    )

    root = _scratch("join_matview")
    o_base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    c_base = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    o = KeyedTable(
        spark,
        root + "/orders",
        TableSpec(
            "orders_jmv",
            record_key=("o_orderkey",),
            precombine_key="seq",
            partition_granularity=None,
        ),
        retain_versions=4,
    )
    c = KeyedTable(
        spark,
        root + "/customer",
        TableSpec(
            "customer_jmv",
            record_key=("c_custkey",),
            precombine_key="seq",
            partition_granularity=None,
        ),
        retain_versions=4,
    )
    o.initial_load(o_base.withColumn("seq", F.lit(0).cast("long")))
    c.initial_load(c_base.withColumn("seq", F.lit(0).cast("long")))
    view = JoinMaterializedView(
        o,
        c,
        root + "/view",
        on=("o_custkey", "c_custkey"),
        group_cols=["c_nationkey"],
        aggs={
            "n_orders": "CAST(count(*) AS BIGINT)",
            "revenue": (
                "CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)"
            ),
        },
    )
    attach_join_matview_maintenance(view)
    k = F.col("o_orderkey")
    o.upsert(  # fact side: reprice one class, delete another
        o_base.filter((k % 5 == 0) & (k % 7 != 0))
        .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(100.0))
        .withColumn("Op", F.lit("U"))
        .unionByName(o_base.filter(k % 7 == 0).withColumn("Op", F.lit("D")))
        .withColumn("seq", F.lit(1).cast("long")),
        delete_mode="apply",
    )
    ck = F.col("c_custkey")
    c.upsert(  # dimension side: GROUP MOVE — relabels every joined fact
        c_base.filter(ck % 3 == 0)
        .withColumn("c_nationkey", (F.col("c_nationkey") + 1) % 25)
        .withColumn("seq", F.lit(1).cast("long"))
        .withColumn("Op", F.lit("U"))
    )
    return view


def _join_matview_serve(spark: SparkSession, sf_dir: str, view) -> DataFrame:
    return (
        view.read()
        .select(
            F.col("c_nationkey").cast("long").alias("c_nationkey"),
            "n_orders",
            "revenue",
        )
        .orderBy("c_nationkey")
    )


JOIN_MATVIEW_SQL = """
WITH o AS (
  SELECT o_custkey,
         CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 100.0
              ELSE o_totalprice END AS price
  FROM orders WHERE o_orderkey % 7 <> 0
), c AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 3 = 0 THEN (c_nationkey + 1) % 25
              ELSE c_nationkey END AS nation
  FROM customer
)
SELECT CAST(c.nation AS BIGINT) AS c_nationkey,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o.price AS DECIMAL(38,6))) AS DOUBLE) AS revenue
FROM o JOIN c ON o.o_custkey = c.c_custkey
GROUP BY 1
ORDER BY c_nationkey
"""


def left_join_matview_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT-join IVM (operators/matview.py how='left'): per-nation
    revenue where one customer class is RE-KEYED away mid-stream, so
    its orders dangle and must MOVE into the NULL group incrementally
    — the maintenance case an inner join never sees. The oracle
    recomputes the final LEFT JOIN aggregate in closed form (NULL
    nation row included)."""
    return _left_jmv_serve(spark, sf_dir, _left_jmv_fixture(spark, sf_dir))


def _left_jmv_fixture(spark: SparkSession, sf_dir: str):
    from rds_to_datalake_project_spark.operators.matview import (
        JoinMaterializedView,
        attach_join_matview_maintenance,
    )

    root = _scratch("left_jmv")
    o_base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    c_base = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    o = KeyedTable(
        spark,
        root + "/orders",
        TableSpec(
            "orders_ljmv",
            record_key=("o_orderkey",),
            precombine_key="seq",
            partition_granularity=None,
        ),
        retain_versions=4,
    )
    c = KeyedTable(
        spark,
        root + "/customer",
        TableSpec(
            "customer_ljmv",
            record_key=("c_custkey",),
            precombine_key="seq",
            partition_granularity=None,
        ),
        retain_versions=4,
    )
    o.initial_load(o_base.withColumn("seq", F.lit(0).cast("long")))
    c.initial_load(c_base.withColumn("seq", F.lit(0).cast("long")))
    view = JoinMaterializedView(
        o,
        c,
        root + "/view",
        on=("o_custkey", "c_custkey"),
        group_cols=["c_nationkey"],
        aggs={
            "n_orders": "CAST(count(*) AS BIGINT)",
            "revenue": (
                "CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)"
            ),
        },
        how="left",
    )
    attach_join_matview_maintenance(view)
    # one commit per side: delete an order class; re-key one customer
    # class AWAY (its orders now dangle → NULL nation) — the view must
    # move those orders into the NULL group incrementally
    k = F.col("o_orderkey")
    o.upsert(
        o_base.filter(k % 9 == 0)
        .withColumn("Op", F.lit("D"))
        .withColumn("seq", F.lit(1).cast("long")),
        delete_mode="apply",
    )
    ck = F.col("c_custkey")
    c.upsert(
        c_base.filter(ck % 5 == 0)
        .withColumn("c_custkey", ck + F.lit(10_000_000))
        .withColumn("seq", F.lit(1).cast("long"))
        .withColumn("Op", F.lit("I"))
        .unionByName(
            c_base.filter(ck % 5 == 0)
            .withColumn("seq", F.lit(1).cast("long"))
            .withColumn("Op", F.lit("D"))
        ),
        delete_mode="apply",
    )
    return view


def _left_jmv_serve(spark: SparkSession, sf_dir: str, view) -> DataFrame:
    return (
        view.read()
        .select(
            F.col("c_nationkey").cast("long").alias("c_nationkey"),
            "n_orders",
            "revenue",
        )
        .orderBy(F.col("c_nationkey").asc_nulls_first())
    )


LEFT_JMV_SQL = """
WITH o AS (
  SELECT o_custkey, o_totalprice FROM orders WHERE o_orderkey % 9 <> 0
), c AS (
  SELECT c_custkey, c_nationkey FROM customer WHERE c_custkey % 5 <> 0
)
SELECT CAST(c.c_nationkey AS BIGINT) AS c_nationkey,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS revenue
FROM o LEFT JOIN c ON o.o_custkey = c.c_custkey
GROUP BY 1
ORDER BY c_nationkey NULLS FIRST
"""


# --- min/max delta matview (extremum repair) -----------------------------------

_MMV_SPEC = TableSpec(
    "mmv_base",
    record_key=("o_orderkey",),
    precombine_key="update_at",
    partition_granularity="",
)


def minmax_delta_matview_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """min/max under signed-delta maintenance
    (operators/matview.py:DeltaMaterializedView with extremum repair):
    the change window deletes THE top-priced '1-URGENT' order (the
    stored max — the delta cannot name the surviving second-best, so
    exactly that group re-aggregates from the snapshot) and inserts a
    new global low for '2-HIGH' (added values merge purely via
    least/greatest — no base read). The fixture asserts the refresh
    ran in delta mode with exactly one repaired group; the oracle
    replays the argmax delete with a window function."""
    return _mmv_serve(spark, sf_dir, _mmv_fixture(spark, sf_dir))


def _mmv_fixture(spark, sf_dir: str):
    from pyspark.sql import Window

    from rds_to_datalake_project_spark.operators.matview import (
        DeltaMaterializedView,
    )

    root = _scratch("minmax_mv")
    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    init = base.filter(F.col("o_orderkey") % 2 == 0).withColumn(
        "update_at", F.lit("a")
    )
    t = KeyedTable(spark, f"{root}/t", _MMV_SPEC, retain_versions=4)
    t.initial_load(init)
    view = DeltaMaterializedView(
        t,
        f"{root}/v",
        ["o_orderpriority"],
        {
            "n_orders": "count(*)",
            "lo": "min(o_totalprice)",
            "hi": "max(o_totalprice)",
        },
    )
    view.refresh()  # full
    # the deterministic argmax row of one group (ties broken by key —
    # same ordering the oracle's row_number replays)
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    top = (
        init.withColumn("rn", F.row_number().over(w))
        .filter(
            (F.col("o_orderpriority") == "1-URGENT") & (F.col("rn") == 1)
        )
        .drop("rn")
        .withColumn("update_at", F.lit("b"))
        .withColumn("Op", F.lit("D"))
    )
    new_low = local_frame(
        spark,
        [(-1, "2-HIGH", 0.01, "b", "I")],
        "o_orderkey long, o_orderpriority string, o_totalprice double, "
        "update_at string, Op string",
    )
    t.upsert(top.unionByName(new_low), delete_mode="apply")
    info = view.refresh()
    assert info["mode"] == "delta", info
    assert info["groups_repaired"] == 1, info
    return view


def _mmv_serve(spark, sf_dir: str, view) -> DataFrame:
    return (
        view.read()
        .select("o_orderpriority", "n_orders", "lo", "hi")
        .orderBy("o_orderpriority")
    )


MINMAX_MV_SQL = """
WITH init AS (
  SELECT o_orderkey, o_orderpriority, o_totalprice
  FROM orders WHERE o_orderkey % 2 = 0
), ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY o_orderpriority
    ORDER BY o_totalprice DESC, o_orderkey
  ) AS rn
  FROM init
), kept AS (
  SELECT o_orderkey, o_orderpriority, o_totalprice FROM ranked
  WHERE NOT (o_orderpriority = '1-URGENT' AND rn = 1)
), final AS (
  SELECT * FROM kept
  UNION ALL
  SELECT -1, '2-HIGH', 0.01
)
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       MIN(o_totalprice) AS lo,
       MAX(o_totalprice) AS hi
FROM final
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""

# --- signed-delta JOIN matview --------------------------------------------------

_DJV_FACT_SPEC = TableSpec(
    "djv_fact",
    record_key=("o_orderkey",),
    precombine_key="update_at",
    partition_granularity="",
)
_DJV_DIM_SPEC = TableSpec(
    "djv_dim",
    record_key=("c_custkey",),
    precombine_key="c_update_at",
    partition_granularity="",
)


def delta_join_matview_nation_revenue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Signed-delta JOIN IVM (operators/matview.py:
    DeltaJoinMaterializedView): revenue by customer nation maintained
    by Δ(A⋈B) = ΔA⋈B + A⋈ΔB − ΔA⋈ΔB over BOTH change feeds in ONE
    window — fact deletes (%10=3), NEW orders pointing at customers
    whose nation ALSO moves in the same window (the −ΔΔ correction
    term), and a dim-side nation move (%20=7 → nation 99) that
    relabels every joined order without either order feed saying so.
    Base reads touch only the changed join keys' neighborhoods; the
    oracle states the final inner-join aggregate in closed form."""
    return _djv_serve(spark, sf_dir, _djv_fixture(spark, sf_dir))


def _djv_fixture(spark, sf_dir: str):
    from rds_to_datalake_project_spark.operators.matview import (
        DeltaJoinMaterializedView,
    )

    root = _scratch("delta_join_mv")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    fact = KeyedTable(spark, f"{root}/f", _DJV_FACT_SPEC, retain_versions=4)
    fact.initial_load(
        orders.filter(F.col("o_orderkey") % 2 == 0).withColumn(
            "update_at", F.lit("a")
        )
    )
    dim = KeyedTable(spark, f"{root}/d", _DJV_DIM_SPEC, retain_versions=4)
    dim.initial_load(cust.withColumn("c_update_at", F.lit("a")))
    view = DeltaJoinMaterializedView(
        fact,
        dim,
        f"{root}/v",
        on=("o_custkey", "c_custkey"),
        group_cols=["c_nationkey"],
        aggs={
            "n_orders": "count(*)",
            "revenue": "sum(CAST(o_totalprice AS DECIMAL(38,6)))",
        },
    )
    view.refresh()  # full
    k = F.col("o_orderkey")
    deletes = (
        fact.read()
        .filter(k % 10 == 3)
        .withColumn("update_at", F.lit("b"))
        .withColumn("Op", F.lit("D"))
    )
    # new orders whose customers' nation ALSO changes in this window —
    # without the −ΔA⋈ΔB term these would double-count
    moved_cust = F.col("c_custkey") % 20 == 7
    new_orders = (
        cust.filter(moved_cust)
        .select(
            (F.col("c_custkey") + 9_000_000).alias("o_orderkey"),
            F.col("c_custkey").alias("o_custkey"),
            F.lit(1000.0).alias("o_totalprice"),
        )
        .withColumn("update_at", F.lit("b"))
        .withColumn("Op", F.lit("U"))
    )
    fact.upsert(deletes.unionByName(new_orders), delete_mode="apply")
    dim.upsert(
        cust.filter(moved_cust)
        .withColumn("c_nationkey", F.lit(99))
        .withColumn("c_update_at", F.lit("b"))
        .withColumn("Op", F.lit("U")),
        delete_mode="apply",
    )
    info = view.refresh()
    assert info["mode"] == "delta", info
    return view


def _djv_serve(spark, sf_dir: str, view) -> DataFrame:
    return (
        view.read()
        .select(
            F.col("c_nationkey").cast("long").alias("c_nationkey"),
            "n_orders",
            F.col("revenue").cast("double").alias("revenue"),
        )
        .orderBy("c_nationkey")
    )


DELTA_JMV_SQL = """
WITH init AS (
  SELECT o_orderkey, o_custkey, o_totalprice
  FROM orders WHERE o_orderkey % 2 = 0
), kept AS (
  SELECT * FROM init WHERE o_orderkey % 10 <> 3
), f AS (
  SELECT * FROM kept
  UNION ALL
  SELECT c_custkey + 9000000, c_custkey, 1000.0
  FROM customer WHERE c_custkey % 20 = 7
), c AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 20 = 7 THEN 99 ELSE c_nationkey END
           AS c_nationkey
  FROM customer
)
SELECT CAST(c.c_nationkey AS BIGINT) AS c_nationkey,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(f.o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS revenue
FROM f JOIN c ON f.o_custkey = c.c_custkey
GROUP BY 1
ORDER BY c_nationkey
"""


# --- count(DISTINCT) delta matview ----------------------------------------------

_CDV_SPEC = TableSpec(
    "cdv_base",
    record_key=("o_orderkey",),
    precombine_key="update_at",
    partition_granularity="",
)


def distinct_delta_matview_custcount(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """count(DISTINCT) + sum(DISTINCT) under signed-delta maintenance
    (operators/matview.py:DeltaMaterializedView with a per-(group,
    value) auxiliary store): distinct customers per order priority and
    the sum of distinct customer keys, maintained purely by the aux
    store's 0↔positive transition sums (value-weighted for the sum) —
    the refresh never re-reads the base and never recomputes a group.
    The window mixes value deaths (deleting %10=1 orders retires
    customers whose LAST order that was), duplicate-preserving deletes,
    and a rewrite funneling %10=5 orders onto one shared customer
    (value births + deaths across groups). Oracle states the final
    ndv in closed form."""
    return _cdv_serve(spark, sf_dir, _cdv_fixture(spark, sf_dir))


def _cdv_fixture(spark, sf_dir: str):
    from rds_to_datalake_project_spark.operators.matview import (
        DeltaMaterializedView,
    )

    root = _scratch("distinct_mv")
    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )
    init = base.filter(F.col("o_orderkey") % 2 == 0).withColumn(
        "update_at", F.lit("a")
    )
    t = KeyedTable(spark, f"{root}/t", _CDV_SPEC, retain_versions=4)
    t.initial_load(init)
    view = DeltaMaterializedView(
        t,
        f"{root}/v",
        ["o_orderpriority"],
        {
            "n_orders": "count(*)",
            "n_custs": "count(DISTINCT o_custkey)",
            "sum_custs": "sum(DISTINCT o_custkey)",
            "avg_custs": "avg(DISTINCT o_custkey)",
        },
    )
    view.refresh()  # full (builds the aux store too)
    k = F.col("o_orderkey")
    deletes = init.filter(k % 10 == 4).withColumn("Op", F.lit("D"))
    funneled = (
        init.filter(k % 10 == 6)
        .withColumn("o_custkey", F.lit(1).cast("long"))
        .withColumn("Op", F.lit("U"))
    )
    t.upsert(
        deletes.unionByName(funneled).withColumn("update_at", F.lit("b")),
        delete_mode="apply",
    )
    info = view.refresh()
    assert info["mode"] == "delta", info
    return view


def _cdv_serve(spark, sf_dir: str, view) -> DataFrame:
    return (
        view.read()
        .select(
            "o_orderpriority", "n_orders", "n_custs", "sum_custs",
            "avg_custs",
        )
        .orderBy("o_orderpriority")
    )


DISTINCT_MV_SQL = """
WITH init AS (
  SELECT o_orderkey, o_custkey, o_orderpriority
  FROM orders WHERE o_orderkey % 2 = 0
), kept AS (
  SELECT * FROM init WHERE o_orderkey % 10 <> 4
), final AS (
  SELECT o_orderpriority,
         CASE WHEN o_orderkey % 10 = 6 THEN 1 ELSE o_custkey END
           AS o_custkey
  FROM kept
)
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_custs,
       CAST(SUM(DISTINCT o_custkey) AS BIGINT) AS sum_custs,
       CAST(AVG(DISTINCT o_custkey) AS DOUBLE) AS avg_custs
FROM final
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""

# --- signed-delta CHAIN matview -------------------------------------------------


def delta_chain_matview_region_revenue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Signed-delta chain IVM (operators/matview.py:
    DeltaChainMaterializedView): revenue by nation over
    orders→customer→nation maintained by inclusion–exclusion over the
    changed tables — ALL THREE feeds move in ONE window (order deletes
    %9, a customer nation move %6, a nation rename %5), so the refresh
    evaluates the full 7-term expansion with its multi-delta
    correction terms; every non-delta factor is the current state
    pruned to the change neighborhoods. The oracle states the final
    3-way join aggregate in closed form."""
    return _dcv_serve(spark, sf_dir, _dcv_fixture(spark, sf_dir))


def _dcv_fixture(spark: SparkSession, sf_dir: str):
    from rds_to_datalake_project_spark.operators.matview import (
        DeltaChainMaterializedView,
    )

    root = _scratch("delta_chain_mv")

    # per-table precombine names: the delta-chain union carries every
    # table's columns side by side, so ALL column names must be
    # disjoint — a shared "seq" collides
    def _kt(name, key, df, seq_col):
        t = KeyedTable(
            spark,
            f"{root}/{name}",
            TableSpec(
                name,
                record_key=(key,),
                precombine_key=seq_col,
                partition_granularity=None,
            ),
            retain_versions=4,
        )
        t.initial_load(df.withColumn(seq_col, F.lit(0).cast("long")))
        return t

    o_base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    c_base = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    n_base = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    o = _kt("orders_dchain", "o_orderkey", o_base, "o_seq")
    c = _kt("customer_dchain", "c_custkey", c_base, "c_seq")
    n = _kt("nation_dchain", "n_nationkey", n_base, "n_seq")
    view = DeltaChainMaterializedView(
        [o, c, n],
        on=[("o_custkey", "c_custkey"), ("c_nationkey", "n_nationkey")],
        path=f"{root}/v",
        group_cols=["n_name"],
        aggs={
            "n_orders": "count(*)",
            "revenue": "sum(CAST(o_totalprice AS DECIMAL(38,6)))",
        },
    )
    view.refresh()  # full
    k = F.col("o_orderkey")
    o.upsert(
        o_base.filter(k % 9 == 0)
        .withColumn("Op", F.lit("D"))
        .withColumn("o_seq", F.lit(1).cast("long")),
        delete_mode="apply",
    )
    ck = F.col("c_custkey")
    c.upsert(
        c_base.filter(ck % 6 == 0)
        .withColumn("c_nationkey", (F.col("c_nationkey") + F.lit(7)) % 25)
        .withColumn("Op", F.lit("U"))
        .withColumn("c_seq", F.lit(1).cast("long"))
    )
    nk = F.col("n_nationkey")
    n.upsert(
        n_base.filter(nk % 5 == 0)
        .withColumn("n_name", F.concat(F.col("n_name"), F.lit("_X")))
        .withColumn("Op", F.lit("U"))
        .withColumn("n_seq", F.lit(1).cast("long"))
    )
    info = view.refresh()  # ONE refresh over all three windows: 7 terms
    assert info["mode"] == "delta", info
    return view


def _dcv_serve(spark: SparkSession, sf_dir: str, view) -> DataFrame:
    return (
        view.read()
        .select(
            "n_name",
            "n_orders",
            F.col("revenue").cast("double").alias("revenue"),
        )
        .orderBy("n_name")
    )


DELTA_CHAIN_MV_SQL = """
WITH o AS (
  SELECT o_custkey, o_totalprice FROM orders WHERE o_orderkey % 9 <> 0
), c AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 6 = 0 THEN (c_nationkey + 7) % 25
              ELSE c_nationkey END AS c_nationkey
  FROM customer
), n AS (
  SELECT n_nationkey,
         CASE WHEN n_nationkey % 5 = 0 THEN n_name || '_X'
              ELSE n_name END AS n_name
  FROM nation
)
SELECT n.n_name,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS revenue
FROM o
JOIN c ON o.o_custkey = c.c_custkey
JOIN n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
ORDER BY n.n_name
"""


# --- workload-driven view advisor (advisor.py) ---------------------------------

_ADVW_SPEC = TableSpec(
    "advq_orders",
    record_key=("o_orderkey",),
    precombine_key="update_at",
    partition_granularity="",
)


def matview_advisor_loop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Workload-driven view advisor (advisor.py): three aggregate
    SELECT shapes (one repeated) run against a lake table with no view
    to serve them; RECOMMEND MATERIALIZED VIEWS must emit exactly one
    delta-maintainable candidate whose group set is the UNION of the
    shapes' group columns; executing its DDL verbatim makes the SAME
    workload serve from the view store (the serve raises otherwise).
    The output carries the re-run aggregate plus the recommendation's
    deterministic metadata; the oracle states both in closed form."""
    return _advw_serve(spark, sf_dir, _advw_fixture(spark, sf_dir))


def _advw_fixture(spark: SparkSession, sf_dir: str):
    from rds_to_datalake_project_spark.sql import MATVIEWS, run_query

    root = _scratch("mv_advisor")
    init = (
        load_table(spark, sf_dir, "orders")
        .select(
            "o_orderkey", "o_orderpriority", "o_orderstatus", "o_totalprice"
        )
        .filter(F.col("o_orderkey") % 2 == 0)  # half-size fixture
        .withColumn("update_at", F.lit("a"))
    )
    t = KeyedTable(spark, f"{root}/t", _ADVW_SPEC, retain_versions=4)
    t.initial_load(init)
    t.register("advq_orders")  # unserved workload runs via spark.sql
    tbl = {"advq_orders": t}
    MATVIEWS.pop("rec_advq_orders_1", None)
    run_query(spark, "RESET QUERY WORKLOAD", tables=tbl)
    workload = [
        "SELECT o_orderpriority, o_orderstatus, "
        "sum(CAST(o_totalprice AS DECIMAL(38,6))) AS rev, count(*) AS cnt "
        "FROM advq_orders GROUP BY o_orderpriority, o_orderstatus",
        "SELECT o_orderpriority, "
        "sum(CAST(o_totalprice AS DECIMAL(38,6))) AS rev, count(*) AS cnt "
        "FROM advq_orders GROUP BY o_orderpriority",
        "SELECT o_orderstatus, max(o_totalprice) AS hi "
        "FROM advq_orders GROUP BY o_orderstatus",
    ]
    for q in workload + workload[1:2]:  # the per-priority shape twice
        run_query(spark, q, tables=tbl)
    recs = run_query(
        spark, "RECOMMEND MATERIALIZED VIEWS", tables=tbl
    ).collect()
    ours = [r for r in recs if " FROM advq_orders " in r.ddl]
    if len(ours) != 1:
        raise RuntimeError(f"expected one recommendation, got {recs}")
    run_query(spark, ours[0].ddl, tables=tbl)
    return t, ours[0]


def _advw_serve(spark: SparkSession, sf_dir: str, built) -> DataFrame:
    from rds_to_datalake_project_spark import rewrite
    from rds_to_datalake_project_spark.sql import run_query

    t, rec = built
    out = run_query(
        spark,
        "SELECT o_orderpriority, "
        "sum(CAST(o_totalprice AS DECIMAL(38,6))) AS rev, count(*) AS cnt "
        "FROM advq_orders GROUP BY o_orderpriority",
        tables={"advq_orders": t},
    )
    hit = rewrite.LAST_SELECT_REWRITE
    if not hit or hit.get("view") != rec.view_name:
        raise RuntimeError(
            f"recommended view did not serve the workload query: {hit}"
        )
    return (
        out.select(
            "o_orderpriority",
            F.col("rev").cast("double").alias("rev"),
            "cnt",
        )
        .withColumn("rec_strategy", F.lit(rec.strategy))
        .withColumn(
            "rec_queries_served", F.lit(rec.queries_served).cast("long")
        )
        .withColumn(
            "rec_shapes_served", F.lit(rec.shapes_served).cast("long")
        )
        .withColumn("rec_group_cols", F.lit(rec.group_cols))
        .orderBy("o_orderpriority")
    )


MV_ADVISOR_SQL = """
SELECT o_orderpriority,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS rev,
       CAST(COUNT(*) AS BIGINT) AS cnt,
       'delta' AS rec_strategy,
       CAST(4 AS BIGINT) AS rec_queries_served,
       CAST(3 AS BIGINT) AS rec_shapes_served,
       'o_orderpriority, o_orderstatus' AS rec_group_cols
FROM orders WHERE o_orderkey % 2 = 0
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


QUERIES = {
    "fk_violation_counts": fk_violation_counts,
    "matview_advisor_loop": matview_advisor_loop,
    "minmax_delta_matview_prices": minmax_delta_matview_prices,
    "delta_join_matview_nation_revenue": delta_join_matview_nation_revenue,
    "delta_chain_matview_region_revenue": delta_chain_matview_region_revenue,
    "distinct_delta_matview_custcount": distinct_delta_matview_custcount,
    "left_join_matview_revenue": left_join_matview_revenue,
    "expectations_orders_report": expectations_orders_report,
    "gated_upsert_roundtrip": gated_upsert_roundtrip,
    "matview_incremental_status": matview_incremental_status,
    "sql_matview_roundtrip": sql_matview_roundtrip,
    "sql_matview_time_bucket": sql_matview_time_bucket,
    "delta_matview_priority_revenue": delta_matview_priority_revenue,
    "chain_matview_region_revenue": chain_matview_region_revenue,
    "stats_join_advisory": stats_join_advisory,
    "join_matview_nation_revenue": join_matview_nation_revenue,
    "pruned_matview_refresh": pruned_matview_refresh,
    "matview_rewrite_rollup": matview_rewrite_rollup,
    "left_delta_matview_revenue": left_delta_matview_revenue,
    "matview_rewrite_hierarchy": matview_rewrite_hierarchy,
    "left_chain_matview_revenue": left_chain_matview_revenue,
}

ORACLES = {
    "fk_violation_counts": FK_VIOLATIONS_SQL,
    "matview_advisor_loop": MV_ADVISOR_SQL,
    "minmax_delta_matview_prices": MINMAX_MV_SQL,
    "delta_join_matview_nation_revenue": DELTA_JMV_SQL,
    "delta_chain_matview_region_revenue": DELTA_CHAIN_MV_SQL,
    "distinct_delta_matview_custcount": DISTINCT_MV_SQL,
    "left_join_matview_revenue": LEFT_JMV_SQL,
    "sql_matview_roundtrip": SQL_MATVIEW_SQL,
    "sql_matview_time_bucket": SQL_MV_BUCKET_SQL,
    "delta_matview_priority_revenue": DELTA_MV_SQL,
    "chain_matview_region_revenue": CHAIN_MV_SQL,
    "expectations_orders_report": EXPECTATIONS_SQL,
    "gated_upsert_roundtrip": GATED_SQL,
    "matview_incremental_status": MATVIEW_SQL,
    "stats_join_advisory": ADVISORY_SQL,
    "join_matview_nation_revenue": JOIN_MATVIEW_SQL,
    "pruned_matview_refresh": PRUNED_MV_SQL,
    "matview_rewrite_rollup": MV_REWRITE_SQL,
    "left_delta_matview_revenue": LEFT_DELTA_JMV_SQL,
    "matview_rewrite_hierarchy": MV_REWRITE_HIER_SQL,
    "left_chain_matview_revenue": LEFT_CHAIN_MV_SQL,
}

PHASES = {
    "join_matview_nation_revenue": (_join_matview_fixture, _join_matview_serve),
    "matview_advisor_loop": (_advw_fixture, _advw_serve),
    "minmax_delta_matview_prices": (_mmv_fixture, _mmv_serve),
    "delta_join_matview_nation_revenue": (_djv_fixture, _djv_serve),
    "delta_chain_matview_region_revenue": (_dcv_fixture, _dcv_serve),
    "distinct_delta_matview_custcount": (_cdv_fixture, _cdv_serve),
    "left_join_matview_revenue": (_left_jmv_fixture, _left_jmv_serve),
    "delta_matview_priority_revenue": (_dmv_fixture, _dmv_serve),
    "chain_matview_region_revenue": (_chain_mv_fixture, _chain_mv_serve),
    "pruned_matview_refresh": (_pmr_fixture, _pmr_serve),
    "matview_rewrite_rollup": (_rwq_fixture, _rwq_serve),
    "left_delta_matview_revenue": (_ldj_fixture, _ldj_serve),
    "matview_rewrite_hierarchy": (_rwh_fixture, _rwh_serve),
    "left_chain_matview_revenue": (_lch_fixture, _lch_serve),
}
