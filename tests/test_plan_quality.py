"""Plan-quality regression tests: the physical plans the engine is
designed around (SURVEY.md §4) must actually materialize — filters
reach the parquet scan, projections prune columns, AQE picks broadcast
for small sides, window stages share one shuffle."""

from __future__ import annotations

import re

import pytest

from rds_to_datalake_project_spark.plans.registry import QUERIES

SF = "/root/testdata/sf0.001"


def _formatted_plan(df) -> str:
    qe = df._jdf.queryExecution()
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return qe.explainString(mode)


def _executed_plan(df) -> str:
    df.count()  # let AQE finalize
    return df._jdf.queryExecution().executedPlan().toString()


def test_q1_filter_pushdown_and_column_pruning(spark):
    plan = _formatted_plan(QUERIES["q1_pricing_summary"](spark, SF))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # projection pruned to the 7 needed columns — notably no l_orderkey
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    cols = m.group(1)
    assert "l_orderkey" not in cols and "l_partkey" not in cols
    assert "l_returnflag" in cols and "l_shipdate" in cols


def test_q3_small_sides_broadcast(spark):
    plan = _executed_plan(QUERIES["q3_shipping_priority"](spark, SF))
    # AQE (not manual hints) must broadcast the small sides at this SF
    assert "BroadcastHashJoin" in plan
    # top-k compiles to TakeOrdered, never a global sort
    assert "TakeOrderedAndProject" in plan


def test_sessionize_single_shuffle_for_windows_and_agg(spark):
    df = QUERIES["sessionize_events"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    hash_exchanges = re.findall(r"Exchange hashpartitioning\(user_id", plan)
    # both window passes + the session aggregation ride ONE shuffle
    assert len(hash_exchanges) == 1, plan[:1500]


def test_dedup_single_shuffle(spark):
    df = QUERIES["dedup_latest_per_key"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1


def test_partition_enrich_no_shuffle(spark):
    df = QUERIES["partition_enrich"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # pure projection + sort for output determinism; no hash shuffle
    assert "Exchange hashpartitioning" not in plan


def test_q18_single_fact_shuffle(spark):
    """The HAVING pre-aggregation is the only wide stage: lineitem
    shuffles once on l_orderkey; the tiny surviving key set joins back
    to orders/customer as AQE broadcasts."""
    df = QUERIES["q18_large_volume_customers"](spark, SF)
    plan = _executed_plan(df)
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1
    assert "BroadcastHashJoin" in plan


def test_q22_anti_join_single_shuffle(spark):
    """Scalar-subquery average broadcasts; the NOT-EXISTS anti join
    stays narrow — only the final groupBy shuffles."""
    df = QUERIES["q22_inactive_high_balance"](spark, SF)
    plan = _executed_plan(df)
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1


def test_q13_two_aggregation_levels_two_shuffles(spark):
    """Left join + per-customer count + distribution count: the join
    side broadcasts at this SF, leaving one shuffle per aggregation
    level and nothing else."""
    df = QUERIES["q13_customer_distribution"](spark, SF)
    plan = _executed_plan(df)
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 2


@pytest.mark.parametrize("qname", ["q5_region_revenue", "q10_returned_items"])
def test_join_queries_scan_only_needed_columns(spark, qname):
    plan = _formatted_plan(QUERIES[qname](spark, SF))
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        cols = [c.split(":")[0] for c in m.group(1).split(",") if c]
        # no scan reads a comment/name column it doesn't output
        assert "l_comment" not in cols and "o_comment" not in cols
        # lineitem scans must not read more than 6 columns in these queries
        if cols and cols[0].startswith("l_"):
            assert len(cols) <= 6, cols


def test_keyed_table_partition_pruning(spark, tmp_path):
    """A filter on the derived partition column must prune at the file
    index — the scan's partition count reflects only matching dirs."""
    from pyspark.sql import functions as F

    from rds_to_datalake_project_spark.operators.upsert import KeyedTable
    from rds_to_datalake_project_spark.schema import TableSpec

    t = KeyedTable(spark, str(tmp_path / "t"),
                   TableSpec("t", partition_granularity="month"))
    rows = [(f"k{m}_{i}", f"2024-{m:02d}-01T00:00:00", f"2024-{m:02d}-01T00:00:00", "v")
            for m in (1, 2, 3) for i in range(10)]
    t.initial_load(spark.createDataFrame(rows, ["id", "create_at", "update_at", "val"]))

    pruned = t.read().filter(F.col("create_month") == "02")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    # partition filters present on the scan, not a post-scan Filter
    assert "PartitionFilters" in plan and "create_month" in plan.split("PartitionFilters")[1][:200]
    assert pruned.count() == 10


def test_ivf_seed_init_no_single_partition_window(spark):
    """k-means seed selection must compile to TakeOrderedAndProject
    (per-partition top-k, driver merge) — never a constant-key Window
    that funnels the whole corpus (embeddings included) through one
    partition (VERDICT r2/r3 'What's wrong')."""
    from rds_to_datalake_project_spark.catalog import load_table
    from rds_to_datalake_project_spark.operators.ivf_train import (
        init_centroids,
        seed_frame,
    )

    emb = load_table(spark, SF, "embeddings")
    plan = _formatted_plan(seed_frame(emb, k=4))
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan and "SinglePartition" not in plan
    # selection itself still works and is deterministic
    c1 = init_centroids(emb, k=4)
    c2 = init_centroids(emb.repartition(7), k=4)
    assert [c for c, _ in c1] == [0, 1, 2, 3]
    assert c1 == c2  # partitioning-independent seeds


def test_fan_out_is_conditional(spark):
    """fan_out must insert a RoundRobin Exchange only when the input is
    under-partitioned; a well-split input passes through shuffle-free
    (the 100 TB path must not pay a full-corpus repartition)."""
    from rds_to_datalake_project_spark.operators.fanout import fan_out

    par = spark.sparkContext.defaultParallelism
    few = spark.range(1000).coalesce(1)
    wide = spark.range(1000).repartition(par + 4)

    fanned = fan_out(few)
    assert fanned.rdd.getNumPartitions() == par
    assert "Exchange RoundRobinPartitioning" in (
        fanned._jdf.queryExecution().executedPlan().toString()
    )

    passed = fan_out(wide)
    # identical frame back — no new Exchange layered on top
    assert passed is wide


def test_lsh_banding_no_repartition_on_wide_input(spark, tables):
    """End-to-end: lsh_candidate_pairs over an already-well-partitioned
    corpus must not add a RoundRobin shuffle before the signature map."""
    from rds_to_datalake_project_spark.operators.minhash import lsh_candidate_pairs

    par = spark.sparkContext.defaultParallelism
    docs = tables["documents"].repartition(par).localCheckpoint(eager=True)
    cand = lsh_candidate_pairs(docs)
    plan = cand._jdf.queryExecution().executedPlan().toString()
    assert "RoundRobinPartitioning" not in plan


def test_table_changes_single_join_shuffle(spark, tmp_path):
    """The lake CDC diff must be ONE co-partitioned full-outer join:
    exactly one hash exchange per snapshot side, no nested-loop or
    cartesian fallback — the shape that stays writable at 100 TB."""
    from pyspark.sql import functions as F

    from rds_to_datalake_project_spark.operators.upsert import KeyedTable
    from rds_to_datalake_project_spark.schema import TableSpec

    t = KeyedTable(
        spark,
        str(tmp_path / "t"),
        TableSpec("t", partition_granularity="month"),
        retain_versions=3,
    )
    rows = [
        (f"k{i}", f"2024-{m:02d}-01T00:00:00", "2024-01-01T00:00:00", "v")
        for m in (1, 2) for i in range(20)
    ]
    t.initial_load(spark.createDataFrame(rows, ["id", "create_at", "update_at", "val"]))
    t.upsert(
        spark.createDataFrame(
            [("k3", "2024-01-01T00:00:00", "2024-02-01T00:00:00", "w")],
            ["id", "create_at", "update_at", "val"],
        )
    )
    ch = t.table_changes(0, 1)
    ch.count()
    plan = ch._jdf.queryExecution().executedPlan().toString()
    assert "FullOuter" in plan
    assert "NestedLoop" not in plan and "Cartesian" not in plan
    assert len(re.findall(r"Exchange hashpartitioning\(id", plan)) <= 2


def test_read_as_of_keeps_partition_pruning(spark, tmp_path):
    """Snapshot reads are explicit dir lists with a basePath — a
    partition-column filter must still prune at the file index, same
    as a live read (time travel must not turn scans into full
    sweeps)."""
    from pyspark.sql import functions as F

    from rds_to_datalake_project_spark.operators.upsert import KeyedTable
    from rds_to_datalake_project_spark.schema import TableSpec

    t = KeyedTable(
        spark,
        str(tmp_path / "t"),
        TableSpec("t", partition_granularity="month"),
        retain_versions=3,
    )
    rows = [
        (f"k{m}_{i}", f"2024-{m:02d}-01T00:00:00", "2024-06-01T00:00:00", "v")
        for m in (1, 2, 3) for i in range(10)
    ]
    t.initial_load(
        spark.createDataFrame(rows, ["id", "create_at", "update_at", "val"])
    )
    t.upsert(
        spark.createDataFrame(
            [("k1_0", "2024-01-01T00:00:00", "2024-07-01T00:00:00", "w")],
            ["id", "create_at", "update_at", "val"],
        )
    )
    pruned = t.read_as_of(0).filter(F.col("create_month") == "02")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "create_month" in plan.split("PartitionFilters")[1][:200]
    assert pruned.count() == 10


def test_chunking_is_map_only(spark):
    """Context-window chunking must never move a document: tokenize,
    slice, posexplode — all narrow. A shuffle here would be a 100 TB
    regression."""
    from rds_to_datalake_project_spark.operators.text import chunk_documents

    docs = spark.range(0, 100).selectExpr(
        "id AS doc_id", "repeat('word ', CAST(id % 40 AS INT)) AS text"
    )
    ch = chunk_documents(docs, max_tokens=8)
    plan = ch._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Generate" in plan  # the posexplode


def test_media_decode_is_map_only(spark):
    """Decode must stream through mapInPandas with zero shuffles —
    a per-blob kernel has no business moving data."""
    from rds_to_datalake_project_spark.operators.multimodal import (
        decode_media_stats,
        synthesize_real_media,
    )

    base = spark.range(0, 50).selectExpr("id AS doc_id")
    stats = decode_media_stats(synthesize_real_media(base, "doc_id"))
    plan = stats._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan
    assert "MapInPandas" in plan


def test_new_tpch_shapes_stay_scale_safe(spark):
    """The round-4 TPC-H additions must keep their designed physical
    shapes: dims broadcast, correlated/global aggregates via window or
    1-row broadcast — never a corpus-wide single-partition exchange,
    and q2's top-k never a global sort."""
    # q11's one SinglePartition exchange is the 1-row global-total
    # aggregate over ALREADY-AGGREGATED per-part rows (partial agg is
    # map-side) — the scalar-subquery pattern, bounded by the group
    # count, not the corpus. Everything else must have none.
    allowed_single = {"q11_important_part_value": 1}
    for name in ("q2_min_cost_supplier", "q11_important_part_value",
                 "q20_excess_suppliers"):
        df = QUERIES[name](spark, SF)
        df.count()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan, name
        n_single = plan.count("Exchange SinglePartition")
        assert n_single <= allowed_single.get(name, 0), (name, n_single)
    q2 = QUERIES["q2_min_cost_supplier"](spark, SF)
    assert "TakeOrderedAndProject" in q2._jdf.queryExecution().executedPlan().toString()


def test_q6_all_predicates_pushed_scan_pruned(spark):
    """Q6 is the canonical pushdown benchmark: every WHERE conjunct
    must reach the parquet reader, and the scan must touch only the 4
    referenced columns. The single SinglePartition exchange is the
    1-row global-aggregate finalization (partial agg is map-side)."""
    plan = _formatted_plan(QUERIES["q6_forecast_revenue"](spark, SF))
    pushed = re.search(r"PushedFilters: \[([^\]]*)\]", plan).group(1)
    for frag in (
        "GreaterThanOrEqual(l_shipdate", "LessThan(l_shipdate",
        "GreaterThanOrEqual(l_discount,0.05)",
        "LessThanOrEqual(l_discount,0.07)", "LessThan(l_quantity,24.0)",
    ):
        assert frag in pushed, (frag, pushed)
    cols = re.search(r"ReadSchema: struct<([^>]*)>", plan).group(1)
    assert sorted(c.split(":")[0] for c in cols.split(",")) == [
        "l_discount", "l_extendedprice", "l_quantity", "l_shipdate",
    ]


def test_tfidf_no_cartesian_and_topk_window(spark):
    """TF-IDF: the vocabulary frequency table joins back on term (an
    equi-join — never a cartesian), and per-document top-k is a window
    over doc_id, not a global sort."""
    plan = _executed_plan(QUERIES["tfidf_top_terms"](spark, SF))
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan
    assert "RunningWindowFunction" in plan or "Window" in plan


def test_sq8_single_corpus_scan_with_broadcast_query(spark):
    """SQ8 ANN: one scan of the embeddings corpus (the rerank works on
    the TakeOrdered payload, not a second read) and the 1-row query is
    broadcast, never shuffled."""
    df = QUERIES["sq8_ann_topk"](spark, SF)
    plan = _executed_plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert plan.count("Scan parquet") - plan.count("Scan parquet []") <= 2
    assert "TakeOrderedAndProject" in plan


def test_containment_equi_join_not_cartesian(spark):
    """Containment verify over LSH candidates: both doc-side joins are
    hash equi-joins on ids."""
    plan = _executed_plan(QUERIES["ngram_containment_md5"](spark, SF))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_bpe_merge_pairs_topk_no_global_sort(spark):
    plan = _executed_plan(QUERIES["bpe_merge_pairs"](spark, SF))
    assert "TakeOrderedAndProject" in plan
    # partial aggregation before the shuffle (map-side combine)
    assert "partial_count" in plan or "HashAggregate" in plan


def test_zonemap_pruned_scan_reads_fraction_of_files(spark, tmp_path):
    """The zoned read's file index must hold fewer files than the
    table — pruning happens at plan time, not as a filter."""
    from rds_to_datalake_project_spark.catalog import load_table
    from rds_to_datalake_project_spark.operators.zonemap import (
        build_zonemap,
        pruned_read,
    )

    path = str(tmp_path / "orders")
    (
        load_table(spark, SF, "orders")
        .repartitionByRange(8, "o_orderdate")
        .sortWithinPartitions("o_orderdate")
        .write.parquet(path)
    )
    build_zonemap(spark, path, ["o_orderdate"])
    out = pruned_read(
        spark, path, {"o_orderdate": ("1996-01-01 00:00:00", "1996-06-30 23:59:59")}
    )
    total = len(spark.read.parquet(path).inputFiles())
    assert 0 < len(set(out.inputFiles())) < total


def test_curate_single_shuffle(spark):
    """All gates are map-side; the only hash exchange is the
    fingerprint-window dedup."""
    plan = _executed_plan(QUERIES["curate_documents_decisions"](spark, SF))
    import re as _re

    assert len(_re.findall(r"Exchange hashpartitioning\(fp", plan)) == 1
    assert "CartesianProduct" not in plan


def test_passage_dedup_no_cartesian_two_shuffles(spark):
    """Passage dedup: segmentation is map-side (no shuffle before the
    passage count), the over-shared flag joins back as an equi-join
    (never a cartesian), reassembly is the only other shuffle."""
    df = QUERIES["passage_dedup_docs"](spark, SF)
    plan = _executed_plan(df)
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan
    # count-by-passage + reassemble-by-doc (+ the orderBy range
    # exchange in the driver query) — no extra data shuffles
    assert len(re.findall(r"Exchange hashpartitioning", plan)) <= 3


def test_bigram_lm_model_sides_equi_joined(spark):
    """Bigram LM scoring: model tables join on (w1,w2)/(w1) keys as
    hash joins; the vocab scalar is broadcast; bigram extraction is
    map-side zip_with (no shuffle before the model aggregation)."""
    plan = _executed_plan(QUERIES["bigram_lm_quality"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan  # the 1-row vocab scalar
    # corpus-count + prefix-count + per-doc agg + two model joins can
    # share partitioning; bound total hash exchanges
    assert len(re.findall(r"Exchange hashpartitioning", plan)) <= 6


def test_semantic_dedup_blocked_equi_join(spark):
    """SemDeDup: the within-cell pairing is an equi-join on the block
    key — never a corpus cross product."""
    from pyspark.sql import functions as F

    from rds_to_datalake_project_spark.catalog import load_table
    from rds_to_datalake_project_spark.operators.similarity import semantic_dedup

    emb = load_table(spark, SF, "embeddings")
    blocked = emb.withColumn("blk", (F.col("vec_id") % 8).cast("int"))
    df = semantic_dedup(blocked, block_col="blk", threshold=0.9)
    plan = _executed_plan(df)
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan


def test_hll_build_one_scan_one_small_shuffle(spark):
    """HLL register build: map-side partial max collapses before the
    single ≤2^p-row shuffle; the events scan reads only the sketched
    column."""
    from pyspark.sql import functions as F

    from rds_to_datalake_project_spark.catalog import load_table
    from rds_to_datalake_project_spark.operators.sketch import hll_registers

    ev = load_table(spark, SF, "events")
    df = hll_registers(ev, "user_id", p=10)
    plan = _executed_plan(df)
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1
    fplan = _formatted_plan(df)
    m = re.search(r"ReadSchema: struct<([^>]*)>", fplan)
    assert m and m.group(1).strip() == "user_id:bigint"


def test_cms_probe_joins_counters_no_corpus_reread(spark):
    """CMS point estimates: the probe plan equi-joins the counter
    table — no cartesian, no second full-corpus aggregation beyond
    the probe set's own distinct."""
    from pyspark.sql import functions as F

    from rds_to_datalake_project_spark.catalog import load_table
    from rds_to_datalake_project_spark.operators.sketch import (
        cms_counters,
        cms_point_estimates,
    )

    ev = load_table(spark, SF, "events")
    cms = cms_counters(ev, "user_id", depth=4, width=256)
    probes = ev.filter(F.col("user_id") % 7 == 0).select("user_id")
    df = cms_point_estimates(cms, probes, "user_id", depth=4, width=256)
    plan = _executed_plan(df)
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan


def test_gapfill_no_cartesian_bounded_shuffles(spark):
    """Gap-fill: spine joins the aggregate on the (dims, bucket)
    equi-key — never a cartesian — and all fill windows share one
    series-keyed sort."""
    df = QUERIES["gapfill_hourly_events"](spark, SF)
    plan = _executed_plan(df)
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan
    # agg, spine side of the join, window repartition (+ driver orderBy
    # range exchange is not hashpartitioning)
    assert len(re.findall(r"Exchange hashpartitioning", plan)) <= 4
    assert plan.count("Window") <= 2  # wprev + wnext, not per-column


def test_funnel_step_scans_are_filtered(spark):
    """Funnel: each chained round scans only ONE step's events (the
    event-type predicate reaches the scan) and joins on the user
    equi-key — no cartesian, no full-stream window."""
    df = QUERIES["funnel_view_click_purchase"](spark, SF)
    plan = _executed_plan(df)
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan
    fplan = _formatted_plan(df)
    assert "PushedFilters" in fplan and "event_type" in fplan


def test_interval_overlap_join_is_hash_not_nestedloop(spark):
    """Overlap join: the binned form must execute as a hash join on
    the bin key — the raw predicate alone would pick
    BroadcastNestedLoopJoin (the O(L×R) scale-killer)."""
    df = QUERIES["overlap_user_promo_spans"](spark, SF)
    plan = _executed_plan(df)
    assert "BroadcastNestedLoop" not in plan and "CartesianProduct" not in plan
    assert "HashJoin" in plan


def test_correlated_subquery_is_decorrelated(spark):
    """Catalyst must rewrite the per-row scalar subquery into a
    brand-aggregate + join — two scans of part, no per-row re-scan."""
    plan = _formatted_plan(QUERIES["above_brand_average_parts"](spark, SF))
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan
    # two physical scans of part (each named once in the tree and once
    # in the detail section) — a correlated re-scan would add more
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 2


def test_pivot_pinned_values_single_aggregate(spark):
    """pivot() with pinned values must not add a distinct-values job:
    exactly one pair of aggregate stages (partial + final), one fact
    scan."""
    plan = _formatted_plan(QUERIES["pivot_nation_priority_revenue"](spark, SF))
    # exactly three scans — the pinned values mean NO extra
    # distinct-values job re-reading orders
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 3
    # the standard two-level pivot aggregate: (group, pivot-key)
    # partial+final, then the pivot step partial+final — and no more
    assert len(re.findall(r"\(\d+\) HashAggregate", plan)) == 4


def test_fuzzy_join_plan_shape(spark):
    plan = _formatted_plan(QUERIES["fuzzy_customer_pairs"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_attribution_join_not_nested_loop(spark):
    """Equi-key + range residual must plan as a hash/sort-merge join
    on the key, never a nested loop."""
    plan = _formatted_plan(QUERIES["click_attribution_pairs"](spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_time_weighted_single_window_shuffle(spark):
    """lead + per-series max share ONE window shuffle on the series
    key; the aggregate adds the only other exchange."""
    df = QUERIES["time_weighted_value"](spark, SF)
    plan = _formatted_plan(df)
    # exactly 2 physical exchanges: ONE hash shuffle on the series key
    # feeding BOTH window passes (lead + per-series max) AND the
    # groupBy (which reuses the partitioning), plus the output sort
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 2
    assert len(re.findall(r"\(\d+\) Window", plan)) == 2


def test_secondary_range_lookup_semi_join_and_band_pruning(spark, tmp_path):
    """The range serve must stay distributed: resolved keys semi-join
    the base (never a collect), the entries leg prunes band partition
    dirs, and the residual BETWEEN pushes into the entries scan."""
    from pyspark.sql import functions as F

    from rds_to_datalake_project_spark.operators.secondary_index import (
        build_secondary_range_index,
        secondary_range_lookup,
    )
    from rds_to_datalake_project_spark.operators.upsert import KeyedTable
    from rds_to_datalake_project_spark.schema import TableSpec

    spec = TableSpec(
        "t", record_key=("k",), precombine_key="seq", partition_granularity=None
    )
    t = KeyedTable(spark, str(tmp_path / "t"), spec, retain_versions=4)
    t.initial_load(
        spark.createDataFrame(
            [(i, float(i), 0) for i in range(400)],
            "k long, payload double, seq long",
        )
    )
    build_secondary_range_index(t, "payload", n_bands=16)
    df = secondary_range_lookup(t, "payload", 10.0, 60.0)
    plan = _executed_plan(df)
    assert "LeftSemi" in plan
    pf = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert pf and any("band" in p and p.strip() for p in pf)
    # residual range predicate reaches the entries parquet scan
    assert re.search(r"PushedFilters: \[[^\]]*GreaterThanOrEqual\(payload",
                     _formatted_plan(df))


def test_matview_touched_group_semi_join_broadcasts(spark):
    """The touched-group prune (shared by every matview class) must be
    a broadcast semi-join — the big side (snapshot / joined state /
    view store) streams, the touched set builds. A shuffle here is the
    corpus-sized cost the affected-group contract forbids."""
    from pyspark.sql import functions as F

    from rds_to_datalake_project_spark.operators.matview import (
        _semi_on_groups,
    )

    rows = spark.range(10_000).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("g")
    )
    touched = spark.range(3).select(F.col("id").alias("g"))
    out = _semi_on_groups(rows, touched, ["g"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_delta_matview_merge_joins_broadcast(spark, tmp_path):
    """The delta-merge refresh must never shuffle the view store: the
    store is semi-pruned by a broadcast of the delta's group keys, and
    the outer merge builds its (tiny) LEFT side — watch the executed
    plans of a refresh via the spark UI-free listener-less route: run
    one delta refresh and assert the store's files were the ONLY
    distributed input (no exchange on the store path would be visible
    as a SortMergeJoin in the final plan; we assert on the operator's
    building blocks instead, which pin the join strategies)."""
    from pyspark.sql import functions as F

    from rds_to_datalake_project_spark.operators.matview import (
        _semi_on_groups,
    )

    store = spark.range(100_000).select(
        (F.col("id") % 1000).alias("g"), F.lit(1).alias("n")
    )
    delta = spark.range(5).select(
        F.col("id").alias("g"), F.lit(2).alias("__d_n")
    )
    old = _semi_on_groups(store, delta, ["g"]).alias("__o")
    d = delta.select(F.col("g").alias("__g_g"), "__d_n").alias("__dl")
    j = F.broadcast(old).join(
        d, F.col("__o.g").eqNullSafe(F.col("__dl.__g_g")), "right_outer"
    )
    plan = j._jdf.queryExecution().executedPlan().toString()
    # both joins broadcast; the 100k-row store is never exchanged
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_delta_join_pruned_current_broadcasts_changed_keys(spark, tmp_path):
    """DeltaJoinMaterializedView reads each current side through
    _pruned_current: the changed-key restriction must be a BROADCAST
    semi-join (the key set is change-window-sized) — a shuffle there
    would exchange the corpus every refresh."""
    from pyspark.sql import functions as F

    from rds_to_datalake_project_spark.operators.matview import (
        DeltaJoinMaterializedView,
    )
    from rds_to_datalake_project_spark.operators.upsert import KeyedTable
    from rds_to_datalake_project_spark.schema import TableSpec

    fact = KeyedTable(
        spark, str(tmp_path / "f"),
        TableSpec("pqf", record_key=("f_id",), precombine_key="fv",
                  partition_granularity=None),
        retain_versions=4,
    )
    dim = KeyedTable(
        spark, str(tmp_path / "d"),
        TableSpec("pqd", record_key=("d_id",), precombine_key="dv",
                  partition_granularity=None),
        retain_versions=4,
    )
    fact.initial_load(spark.createDataFrame(
        [(i, i % 50, float(i), 0) for i in range(5000)],
        "f_id long, fk long, amount double, fv long"))
    dim.initial_load(spark.createDataFrame(
        [(d, f"g{d % 5}", 0) for d in range(50)],
        "d_id long, gname string, dv long"))
    view = DeltaJoinMaterializedView(
        fact, dim, str(tmp_path / "v"), on=("fk", "d_id"),
        group_cols=["gname"], aggs={"n": "count(*)"},
    )
    keys = spark.createDataFrame([(7,), (9,)], "fk long")
    sel = view._pruned_current(view.left, view.l_on, keys)
    plan = sel._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "SortMergeJoin" not in plan


def test_delta_chain_far_dim_term_restricts_fact_and_mid_dim(spark, tmp_path):
    """A far-dim-only change window's single inclusion–exclusion term
    must reach the fact RESTRICTED: the delta's keys propagate to the
    mid dim and then to the fact as semi-joins BEFORE the term join —
    an unrestricted fact factor is the corpus-scan the delta contract
    forbids."""
    from pyspark.sql import functions as F

    from rds_to_datalake_project_spark.operators.matview import (
        DeltaChainMaterializedView,
    )
    from rds_to_datalake_project_spark.operators.upsert import KeyedTable
    from rds_to_datalake_project_spark.schema import TableSpec

    def _kt(name, key, df, seq):
        t = KeyedTable(
            spark, str(tmp_path / name),
            TableSpec(name, record_key=(key,), precombine_key=seq,
                      partition_granularity=None),
            retain_versions=4,
        )
        t.initial_load(df)
        return t

    facts = _kt("f", "f_id", spark.createDataFrame(
        [(i, i % 6, float(i), 0) for i in range(2000)],
        "f_id long, f_dim long, amount double, fv long"), "fv")
    dims = _kt("d", "d_id", spark.createDataFrame(
        [(d, d % 3, 0) for d in range(6)],
        "d_id long, d_reg long, dv long"), "dv")
    regs = _kt("r", "r_id", spark.createDataFrame(
        [(r, f"R{r}", 0) for r in range(3)],
        "r_id long, rname string, rv long"), "rv")
    view = DeltaChainMaterializedView(
        [facts, dims, regs],
        on=[("f_dim", "d_id"), ("d_reg", "r_id")],
        path=str(tmp_path / "v"),
        group_cols=["rname"],
        aggs={"n": "count(*)"},
    )
    view.refresh()
    regs.upsert(
        spark.createDataFrame([(1, "R1x", 1)],
                              "r_id long, rname string, rv long")
        .withColumn("Op", F.lit("U")),
        delete_mode="apply",
    )
    deltas = [None, None, view._signed_changes(2, (0, 0, 0), (0, 0, 1))]
    term = view._term(
        frozenset({2}), deltas, [t.read() for t in view.tables]
    )
    plan = term._jdf.queryExecution().optimizedPlan().toString()
    # two restriction hops: delta keys -> mid dim, mid dim keys -> fact
    assert plan.count("LeftSemi") >= 2, plan


def test_rewritten_select_scans_only_view_store(spark, tmp_path):
    """An aggregate-navigated SELECT must read the VIEW STORE and
    nothing else — if the base table's files appear in the scan, the
    rewrite bought nothing at 100 TB."""
    from rds_to_datalake_project_spark import rewrite
    from rds_to_datalake_project_spark.operators.upsert import KeyedTable
    from rds_to_datalake_project_spark.schema import TableSpec
    from rds_to_datalake_project_spark.sql import MATVIEWS, run_query

    base_dir = str(tmp_path / "pq_rw_base")
    t = KeyedTable(
        spark, base_dir,
        TableSpec("pqrw", record_key=("k",), precombine_key="seq",
                  partition_granularity=None),
        retain_versions=4,
    )
    t.initial_load(spark.createDataFrame(
        [(i, f"g{i % 5}", i * 2, 0) for i in range(100)],
        "k long, g string, v long, seq long",
    ))
    t.register("pq_rw_base")
    run_query(
        spark,
        "CREATE MATERIALIZED VIEW pq_rw_v AS SELECT g, sum(v) AS sv, "
        "count(*) AS n FROM pq_rw_base GROUP BY g",
        tables={"pq_rw_base": t},
    )
    try:
        df = run_query(
            spark,
            "SELECT g, sum(v) AS sv FROM pq_rw_base GROUP BY g",
            tables={"pq_rw_base": t},
        )
        assert rewrite.LAST_SELECT_REWRITE is not None
        plan = df._jdf.queryExecution().executedPlan().toString()
        # exactly ONE parquet scan, and it reads the store's
        # PRE-AGGREGATED columns (g, sv) — a base scan would read the
        # row-level schema (k, v, seq)
        import re as _re

        scans = _re.findall(r"ReadSchema: struct<([^>]*)>", plan)
        assert len(scans) == 1, plan
        read_cols = {c.split(":")[0] for c in scans[0].split(",")}
        assert read_cols == {"g", "sv"}, scans[0]
    finally:
        MATVIEWS.pop("pq_rw_v", None)


@pytest.mark.slow
def test_left_delta_dangling_terms_broadcast(spark, tmp_path):
    """The LEFT-join dangling machinery must never shuffle a base
    side: match counts, flip keys, and the window frames all broadcast
    against the (pruned) current snapshots."""
    from pyspark.sql import functions as F

    from rds_to_datalake_project_spark.operators.matview import (
        DeltaJoinMaterializedView,
    )
    from rds_to_datalake_project_spark.operators.upsert import KeyedTable
    from rds_to_datalake_project_spark.schema import TableSpec

    fact = KeyedTable(
        spark, str(tmp_path / "f"),
        TableSpec("pqf", record_key=("f_id",), precombine_key="s1",
                  partition_granularity=None),
        retain_versions=8,
    )
    dim = KeyedTable(
        spark, str(tmp_path / "d"),
        TableSpec("pqd", record_key=("d_id",), precombine_key="s2",
                  partition_granularity=None),
        retain_versions=8,
    )
    fact.initial_load(spark.createDataFrame(
        [(i, i % 6, 10 * i, 0) for i in range(40)],
        "f_id long, fk long, amt long, s1 long",
    ))
    dim.initial_load(spark.createDataFrame(
        [(d, f"g{d}", 0) for d in range(4)], "d_id long, gname string, s2 long"
    ))
    view = DeltaJoinMaterializedView(
        fact, dim, str(tmp_path / "v"), on=("fk", "d_id"),
        group_cols=["gname"], aggs={"n": "count(*)"}, how="left",
    )
    view.refresh()
    fact.upsert(
        spark.createDataFrame([(100, 9, 5, 1)], "f_id long, fk long, amt long, s1 long")
        .withColumn("Op", F.lit("I"))
    )
    dim.upsert(
        spark.createDataFrame([(4, "g4", 1)], "d_id long, gname string, s2 long")
        .withColumn("Op", F.lit("I"))
    )
    cur = view.refreshed_versions()
    new = (
        (fact.versions() or [0])[-1],
        (dim.versions() or [0])[-1],
    )
    dl = view._signed_changes(0, cur, new).localCheckpoint(eager=True)
    dr = view._signed_changes(1, cur, new).localCheckpoint(eager=True)
    terms = view._dangling_terms(dl, dr)
    assert terms
    saw_broadcast = False
    for term in terms:
        plan = term._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" not in plan, plan
        saw_broadcast = saw_broadcast or "BroadcastHashJoin" in plan
    assert saw_broadcast
