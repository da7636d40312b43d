"""Incremental view maintenance over a JOIN
(operators/matview.py:JoinMaterializedView): converges to direct
recomputation across commits on BOTH sides — fact deletes, fact
inserts, dimension group-moves, join-key mutation — with vanished
groups tombstoned and replay idempotent."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rds_to_datalake_project_spark.operators.matview import (
    JoinMaterializedView,
    attach_join_matview_maintenance,
)
from rds_to_datalake_project_spark.operators.upsert import KeyedTable
from rds_to_datalake_project_spark.schema import TableSpec


def _mk(spark, tmp_path):
    fact_spec = TableSpec(
        "facts", record_key=("f_id",), precombine_key="seq",
        partition_granularity=None,
    )
    dim_spec = TableSpec(
        "dims", record_key=("d_id",), precombine_key="seq",
        partition_granularity=None,
    )
    facts = KeyedTable(spark, str(tmp_path / "f"), fact_spec, retain_versions=8)
    dims = KeyedTable(spark, str(tmp_path / "d"), dim_spec, retain_versions=8)
    facts.initial_load(
        spark.createDataFrame(
            [(i, i % 6, 10 * i, 0) for i in range(60)],
            "f_id long, f_dim long, amount long, seq long",
        )
    )
    dims.initial_load(
        spark.createDataFrame(
            [(i, f"g{i % 3}", 0) for i in range(6)],
            "d_id long, grp string, seq long",
        )
    )
    view = JoinMaterializedView(
        facts,
        dims,
        str(tmp_path / "v"),
        on=("f_dim", "d_id"),
        group_cols=["grp"],
        aggs={
            "n": "CAST(count(*) AS BIGINT)",
            "total": "CAST(sum(amount) AS BIGINT)",
        },
    )
    return facts, dims, view


def _direct(facts, dims):
    f, d = facts.read(), dims.read()
    return {
        (r["grp"], r["n"], r["total"])
        for r in f.join(d, f["f_dim"] == d["d_id"])
        .groupBy("grp")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("amount").cast("long").alias("total"),
        )
        .collect()
    }


def _view_rows(view):
    return {(r["grp"], r["n"], r["total"]) for r in view.read().collect()}


def _fbatch(spark, rows, op="U"):
    return spark.createDataFrame(
        rows, "f_id long, f_dim long, amount long, seq long"
    ).withColumn("Op", F.lit(op))


def _dbatch(spark, rows, op="U"):
    return spark.createDataFrame(
        rows, "d_id long, grp string, seq long"
    ).withColumn("Op", F.lit(op))


@pytest.mark.slow
def test_full_then_incremental_converges_both_sides(spark, tmp_path):
    facts, dims, view = _mk(spark, tmp_path)
    assert view.refresh()["mode"] == "full"
    assert _view_rows(view) == _direct(facts, dims)

    # fact side: insert, delete, and a join-key mutation (fact moves
    # from dim 1 to dim 2 — both neighborhoods must refresh)
    facts.upsert(
        _fbatch(spark, [(100, 0, 7, 1), (1, 2, 10, 1)]).unionByName(
            _fbatch(spark, [(2, 2, 20, 1)], op="D")
        ),
        delete_mode="apply",
    )
    out = view.refresh()
    assert out["mode"] == "incremental" and out["groups_refreshed"] >= 1
    assert _view_rows(view) == _direct(facts, dims)

    # dimension side: a GROUP MOVE (d_id=3 g0→g9) relabels every
    # joined fact row — the classic case a fact-side feed never names
    dims.upsert(_dbatch(spark, [(3, "g9", 1)]))
    assert view.refresh()["mode"] == "incremental"
    assert _view_rows(view) == _direct(facts, dims)
    assert view.refresh()["mode"] == "noop"


@pytest.mark.slow
def test_vanished_group_is_tombstoned(spark, tmp_path):
    facts, dims, view = _mk(spark, tmp_path)
    view.refresh()
    # delete the only dim rows of group g2 (d_id 2 and 5) → group gone
    dims.upsert(
        _dbatch(spark, [(2, "g2", 1), (5, "g2", 1)], op="D"),
        delete_mode="apply",
    )
    view.refresh()
    assert _view_rows(view) == _direct(facts, dims)
    assert "g2" not in {r["grp"] for r in view.read().collect()}


@pytest.mark.slow
def test_maintenance_hooks_follow_both_tables(spark, tmp_path):
    facts, dims, view = _mk(spark, tmp_path)
    attach_join_matview_maintenance(view)
    facts.upsert(_fbatch(spark, [(200, 1, 5, 1)]))
    assert _view_rows(view) == _direct(facts, dims)
    dims.upsert(_dbatch(spark, [(0, "g7", 1)]))
    assert _view_rows(view) == _direct(facts, dims)


def test_requires_versioned_tables(spark, tmp_path):
    spec = TableSpec(
        "t", record_key=("k",), precombine_key="seq", partition_granularity=None
    )
    t1 = KeyedTable(spark, str(tmp_path / "a"), spec)  # unversioned
    t2 = KeyedTable(spark, str(tmp_path / "b"), spec, retain_versions=2)
    with pytest.raises(ValueError, match="versioned"):
        JoinMaterializedView(
            t1, t2, str(tmp_path / "v"), on=("k", "k"),
            group_cols=["k"], aggs={"n": "count(*)"},
        )


def test_no_module_outside_matview_dispatches_on_view_arity():
    """Every view class shares one skeleton: ``tables``,
    ``refreshed_versions()``, ``_heads()`` and ``_full(heads)`` mean the
    same for one, two or N tables. No package module outside
    ``operators/matview.py`` may tell the arities apart by probing for
    ``left`` / ``tables`` (``hasattr(mv, "left")``,
    ``getattr(mv, "tables", ...)``) — that decision lives in one
    module."""
    import ast
    import pathlib

    import rds_to_datalake_project_spark as pkg_mod

    pkg = pathlib.Path(pkg_mod.__file__).parent
    offenders = []
    for src in sorted(pkg.rglob("*.py")):
        rel = src.relative_to(pkg.parent)
        if rel.as_posix() == "rds_to_datalake_project_spark/operators/matview.py":
            continue
        for node in ast.walk(ast.parse(src.read_text())):
            if not (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Name)
                and len(node.args) >= 2
                and isinstance(node.args[1], ast.Constant)
            ):
                continue
            probe = (node.func.id, node.args[1].value)
            if probe in (
                ("hasattr", "left"),
                ("hasattr", "tables"),
                ("getattr", "tables"),
            ):
                offenders.append(f"{rel}:{node.lineno}: {ast.unparse(node)}")
    assert offenders == []


@pytest.mark.slow
def test_sql_facade_join_matview_create_refresh_select_drop(spark, tmp_path):
    """CREATE MATERIALIZED VIEW ... FROM a JOIN b ON ... GROUP BY
    through the SQL layer: initial full refresh, SELECT-able temp
    view, follows commits on both sides under WITH AUTO REFRESH,
    REFRESH no-ops at head, DROP unbinds."""
    from rds_to_datalake_project_spark.sql import run_query

    facts, dims, _ = _mk(spark, tmp_path)
    reg = {"facts_t": facts, "dims_t": dims}
    out = run_query(
        spark,
        "CREATE MATERIALIZED VIEW nation_rev WITH AUTO REFRESH AS "
        "SELECT grp, CAST(count(*) AS BIGINT) AS n, "
        "CAST(sum(amount) AS BIGINT) AS total "
        "FROM facts_t JOIN dims_t ON facts_t.f_dim = dims_t.d_id "
        "GROUP BY grp",
        tables=reg,
    ).collect()[0]
    assert out["mode"] == "full" and out["auto_refresh"]
    direct = _direct(facts, dims)
    got = {
        (r["grp"], r["n"], r["total"])
        for r in run_query(spark, "SELECT * FROM nation_rev", tables=reg).collect()
    }
    assert got == direct

    # commits on BOTH sides follow automatically (hooks re-publish is
    # manual via REFRESH; the store is fresh either way)
    facts.upsert(_fbatch(spark, [(300, 2, 9, 1)]))
    dims.upsert(_dbatch(spark, [(4, "g8", 1)]))
    ref = run_query(
        spark, "REFRESH MATERIALIZED VIEW nation_rev", tables=reg
    ).collect()[0]
    assert ref["mode"] == "noop"  # auto hooks already caught up
    got = {
        (r["grp"], r["n"], r["total"])
        for r in run_query(spark, "SELECT * FROM nation_rev", tables=reg).collect()
    }
    assert got == _direct(facts, dims)
    dropped = run_query(
        spark, "DROP MATERIALIZED VIEW nation_rev", tables=reg
    ).collect()[0]
    assert dropped["dropped"]


def test_sql_facade_join_matview_rejects_unknown_or_ambiguous_on(spark, tmp_path):
    from rds_to_datalake_project_spark.sql import run_query

    facts, dims, _ = _mk(spark, tmp_path)
    reg = {"facts_t": facts, "dims_t": dims}
    with pytest.raises(ValueError, match="not a registered"):
        run_query(
            spark,
            "CREATE MATERIALIZED VIEW x AS SELECT grp, count(*) AS n "
            "FROM facts_t JOIN nope ON facts_t.f_dim = nope.d_id GROUP BY grp",
            tables=reg,
        )
    with pytest.raises(ValueError, match="ambiguous or unknown"):
        run_query(
            spark,
            "CREATE MATERIALIZED VIEW x AS SELECT grp, count(*) AS n "
            "FROM facts_t JOIN dims_t ON seq = d_id GROUP BY grp",
            tables=reg,
        )


@pytest.mark.slow
def test_refresh_crash_before_cursor_replays_idempotently(
    spark, tmp_path, monkeypatch
):
    """Crash between the store merge and the cursor write: the next
    refresh recomputes the same groups from the same snapshots and
    converges — affected-group recompute is replay-idempotent."""
    import rds_to_datalake_project_spark.operators.matview as mv_mod

    facts, dims, view = _mk(spark, tmp_path)
    view.refresh()
    facts.upsert(_fbatch(spark, [(400, 3, 11, 1)]))

    real = mv_mod._write_small
    blow = {"armed": True}

    def exploding(spark_, path, text):
        if blow["armed"] and path.endswith("_BASE_VERSIONS"):
            blow["armed"] = False
            raise RuntimeError("injected crash before cursor write")
        return real(spark_, path, text)

    monkeypatch.setattr(mv_mod, "_write_small", exploding)
    with pytest.raises(RuntimeError, match="injected crash"):
        view.refresh()
    monkeypatch.setattr(mv_mod, "_write_small", real)
    # cursor old → replay recomputes the same groups; store converges
    out = view.refresh()
    assert out["mode"] == "incremental"
    assert _view_rows(view) == _direct(facts, dims)
    assert view.refresh()["mode"] == "noop"


@pytest.mark.slow
def test_null_group_survives_incremental_refresh(spark, tmp_path):
    """SQL GROUP BY keeps a NULL group; the incremental path must too
    (name-list joins are null-unsafe and used to tombstone it)."""
    from rds_to_datalake_project_spark.operators.matview import MaterializedView

    facts, dims, view = _mk(spark, tmp_path)
    dims.upsert(_dbatch(spark, [(5, None, 1)]))  # dim 5 → NULL group
    view.refresh()
    assert _view_rows(view) == _direct(facts, dims)
    assert None in {r["grp"] for r in view.read().collect()}
    # a commit touching the NULL group's neighborhood must keep it
    facts.upsert(_fbatch(spark, [(500, 5, 3, 2)]))
    view.refresh()
    assert _view_rows(view) == _direct(facts, dims)
    assert None in {r["grp"] for r in view.read().collect()}

    # single-table form: same invariant through the shared merge
    mv = MaterializedView(
        facts, str(tmp_path / "sv"), ["f_dim"], {"n": "CAST(count(*) AS BIGINT)"}
    )
    facts.upsert(
        _fbatch(spark, [(600, None, 1, 3)])  # NULL group key in base
    )
    mv.refresh()
    facts.upsert(_fbatch(spark, [(601, None, 2, 4)]))
    mv.refresh()
    want = {
        (r["f_dim"], r["n"])
        for r in facts.read().groupBy("f_dim").agg(
            F.count("*").cast("long").alias("n")
        ).collect()
    }
    got = {(r["f_dim"], r["n"]) for r in mv.read().collect()}
    assert got == want and (None, 2) in got


def test_table_reset_forces_full_rebuild_not_noop(spark, tmp_path):
    """initial_load restarts commit numbering; a cursor from the
    previous incarnation must read as invalid (full rebuild), not as
    noop serving the old data."""
    facts, dims, view = _mk(spark, tmp_path)
    view.refresh()
    before = _view_rows(view)
    # RESET the fact table with different data at the same version (0)
    facts.initial_load(
        spark.createDataFrame(
            [(i, i % 6, 1000 + i, 0) for i in range(30)],
            "f_id long, f_dim long, amount long, seq long",
        )
    )
    out = view.refresh()
    assert out["mode"] == "full"
    after = _view_rows(view)
    assert after == _direct(facts, dims) and after != before


def test_feed_write_refuses_previous_incarnation(spark, tmp_path):
    """A changes feed surviving a table reset would mix incarnations
    (materialized batches are skipped by _SUCCESS) — the publish must
    refuse instead."""
    spec = TableSpec(
        "t", record_key=("k",), precombine_key="seq", partition_granularity=None
    )
    feed = str(tmp_path / "feed")
    t = KeyedTable(
        spark, str(tmp_path / "t"), spec, retain_versions=4,
        changes_feed_dir=feed,
    )
    t.initial_load(
        spark.createDataFrame([(1, 1, 0)], "k long, v long, seq long")
    )
    t.upsert(
        spark.createDataFrame([(2, 2, 1)], "k long, v long, seq long")
        .withColumn("Op", F.lit("U"))
    )  # feed v1 written, incarnation marker set
    t.initial_load(  # TABLE RESET — feed dir survives outside the path
        spark.createDataFrame([(9, 9, 0)], "k long, v long, seq long")
    )
    with pytest.raises(ValueError, match="previous table incarnation"):
        t.upsert(
            spark.createDataFrame([(10, 1, 1)], "k long, v long, seq long")
            .withColumn("Op", F.lit("U"))
        )


def test_failed_create_attaches_no_hooks_and_sql_spellings_parse(spark, tmp_path):
    from rds_to_datalake_project_spark.sql import run_query

    facts, dims, _ = _mk(spark, tmp_path)
    reg = {"facts_t": facts, "dims_t": dims}
    n_f, n_d = len(facts._maintenance_hooks), len(dims._maintenance_hooks)
    with pytest.raises(Exception):
        run_query(
            spark,
            "CREATE MATERIALIZED VIEW bad WITH AUTO REFRESH AS "
            "SELECT grp, bogus_fn(amount) AS n "
            "FROM facts_t JOIN dims_t ON f_dim = d_id GROUP BY grp",
            tables=reg,
        )
    assert len(facts._maintenance_hooks) == n_f  # no leaked hooks
    assert len(dims._maintenance_hooks) == n_d

    # INNER JOIN + backtick-qualified ON parse and validate membership
    out = run_query(
        spark,
        "CREATE MATERIALIZED VIEW ok AS SELECT grp, "
        "CAST(count(*) AS BIGINT) AS n FROM facts_t INNER JOIN dims_t "
        "ON `facts_t`.`f_dim` = `dims_t`.`d_id` GROUP BY grp",
        tables=reg,
    ).collect()[0]
    assert out["mode"] == "full"
    with pytest.raises(ValueError, match="not in table"):
        run_query(
            spark,
            "CREATE MATERIALIZED VIEW bad2 AS SELECT grp, count(*) AS n "
            "FROM facts_t JOIN dims_t ON facts_t.d_id = dims_t.d_id "
            "GROUP BY grp",
            tables=reg,
        )
    run_query(spark, "DROP MATERIALIZED VIEW ok", tables=reg)


def _mk_left(spark, tmp_path):
    """LEFT-join view: facts with dangling and NULL join keys."""
    fact_spec = TableSpec(
        "facts", record_key=("f_id",), precombine_key="seq",
        partition_granularity=None,
    )
    dim_spec = TableSpec(
        "dims", record_key=("d_id",), precombine_key="seq",
        partition_granularity=None,
    )
    facts = KeyedTable(spark, str(tmp_path / "lf"), fact_spec, retain_versions=8)
    dims = KeyedTable(spark, str(tmp_path / "ld"), dim_spec, retain_versions=8)
    rows = [(i, None if i % 11 == 0 else i % 8, 10 * i, 0) for i in range(60)]
    facts.initial_load(
        spark.createDataFrame(rows, "f_id long, f_dim long, amount long, seq long")
    )
    dims.initial_load(  # dims 0..5 only: f_dim 6,7 dangle → NULL group
        spark.createDataFrame(
            [(i, f"g{i % 3}", 0) for i in range(6)],
            "d_id long, grp string, seq long",
        )
    )
    view = JoinMaterializedView(
        facts, dims, str(tmp_path / "lv"), on=("f_dim", "d_id"),
        group_cols=["grp"],
        aggs={"n": "CAST(count(*) AS BIGINT)", "total": "CAST(sum(amount) AS BIGINT)"},
        how="left",
    )
    return facts, dims, view


def _direct_left(facts, dims):
    f, d = facts.read(), dims.read()
    return {
        (r["grp"], r["n"], r["total"])
        for r in f.join(d, f["f_dim"] == d["d_id"], "left")
        .groupBy("grp")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("amount").cast("long").alias("total"),
        )
        .collect()
    }


@pytest.mark.slow
def test_left_join_view_converges_including_null_group(spark, tmp_path):
    """LEFT-join IVM: unmatched facts (dangling or NULL join key) live
    in the NULL group; commits that touch them — including a NEW dim
    row that moves facts OUT of the NULL group, and a null-key fact
    insert no join-key value names — must all converge."""
    facts, dims, view = _mk_left(spark, tmp_path)
    assert view.refresh()["mode"] == "full"
    got = _view_rows(view)
    assert got == _direct_left(facts, dims)
    assert None in {g for g, _, _ in got}  # dangling + null-key facts

    # a NEW dim row adopts previously-dangling facts (NULL → g0)
    dims.upsert(_dbatch(spark, [(6, "g0", 1)]))
    assert view.refresh()["mode"] == "incremental"
    assert _view_rows(view) == _direct_left(facts, dims)

    # a null-key fact insert: only the NULL group is named — and only
    # via the null_left flag, never a join-key value
    facts.upsert(_fbatch(spark, [(700, None, 5, 1)]))
    assert view.refresh()["mode"] == "incremental"
    assert _view_rows(view) == _direct_left(facts, dims)

    # deleting the last null-key/dangling facts empties the NULL group
    null_keys = [
        r["f_id"]
        for r in facts.read().filter(
            F.col("f_dim").isNull() | (F.col("f_dim") > 6)
        ).collect()
    ]
    facts.upsert(
        _fbatch(spark, [(k, 0, 0, 2) for k in null_keys], op="D"),
        delete_mode="apply",
    )
    assert view.refresh()["mode"] == "incremental"
    got = _view_rows(view)
    assert got == _direct_left(facts, dims)
    assert None not in {g for g, _, _ in got}


@pytest.mark.slow
def test_sql_facade_left_join_spelling(spark, tmp_path):
    from rds_to_datalake_project_spark.sql import run_query

    facts, dims, _ = _mk_left(spark, tmp_path)
    reg = {"facts_t": facts, "dims_t": dims}
    out = run_query(
        spark,
        "CREATE MATERIALIZED VIEW lv WITH AUTO REFRESH AS "
        "SELECT grp, CAST(count(*) AS BIGINT) AS n, "
        "CAST(sum(amount) AS BIGINT) AS total "
        "FROM facts_t LEFT JOIN dims_t ON f_dim = d_id GROUP BY grp",
        tables=reg,
    ).collect()[0]
    assert out["mode"] == "full"
    facts.upsert(_fbatch(spark, [(800, None, 3, 1)]))  # null-key insert
    got = {
        (r["grp"], r["n"], r["total"])
        for r in run_query(spark, "SELECT * FROM lv", tables=reg).collect()
    }
    assert got == _direct_left(facts, dims)
    run_query(spark, "DROP MATERIALIZED VIEW lv", tables=reg)


def test_sql_auto_refresh_republishes_temp_view_single_table(spark, tmp_path):
    """WITH AUTO REFRESH must re-publish the SELECT-able temp view:
    the view pins the store's file listing at registration, and the
    hook's refresh rewrites those files — a direct SELECT after a base
    commit used to die with FILE_NOT_EXIST."""
    from rds_to_datalake_project_spark.sql import run_query

    facts, _, _ = _mk(spark, tmp_path)
    reg = {"facts_t": facts}
    run_query(
        spark,
        "CREATE MATERIALIZED VIEW ftotals WITH AUTO REFRESH AS "
        "SELECT f_dim, CAST(sum(amount) AS BIGINT) AS total "
        "FROM facts_t GROUP BY f_dim",
        tables=reg,
    )
    facts.upsert(_fbatch(spark, [(900, 1, 42, 1)]))
    got = {
        (r["f_dim"], r["total"])
        for r in run_query(spark, "SELECT * FROM ftotals", tables=reg).collect()
    }
    want = {
        (r["f_dim"], r["total"])
        for r in facts.read().groupBy("f_dim").agg(
            F.sum("amount").cast("long").alias("total")
        ).collect()
    }
    assert got == want
    run_query(spark, "DROP MATERIALIZED VIEW ftotals", tables=reg)


@pytest.mark.slow
def test_bulk_rewrite_degrades_to_full_not_broadcast(spark, tmp_path):
    """A change window ≈ the corpus must NOT drive the incremental
    path's key/group broadcasts (corpus-sized driver broadcast at
    scale = OOM, not a slow query): past max_broadcast_keys the
    refresh falls back to full recompute — and stays correct."""
    from rds_to_datalake_project_spark.operators.matview import MaterializedView

    facts, dims, view = _mk(spark, tmp_path)
    view.max_broadcast_keys = 3
    view.refresh()
    # rewrite 100% of the dimension (6 touched join keys > 3)
    dims.upsert(_dbatch(spark, [(i, f"h{i % 2}", 1) for i in range(6)]))
    out = view.refresh()
    assert out["mode"] == "full"
    assert _view_rows(view) == _direct(facts, dims)
    # a small follow-up commit goes back to the incremental path
    dims.upsert(_dbatch(spark, [(0, "h9", 2)]))
    out = view.refresh()
    assert out["mode"] == "incremental"
    assert _view_rows(view) == _direct(facts, dims)

    # single-table form: 100% of the base rewritten → full fallback
    mv = MaterializedView(
        facts,
        str(tmp_path / "bv"),
        ["f_dim"],
        {"n": "CAST(count(*) AS BIGINT)", "total": "CAST(sum(amount) AS BIGINT)"},
        max_broadcast_keys=2,
    )
    mv.refresh()
    facts.upsert(
        _fbatch(
            spark,
            [(i, (i + 1) % 6, 11 * i, 9) for i in range(60)],
        )
    )
    out = mv.refresh()
    assert out["mode"] == "full"
    want = {
        (r["f_dim"], r["n"], r["total"])
        for r in facts.read()
        .groupBy("f_dim")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("amount").cast("long").alias("total"),
        )
        .collect()
    }
    got = {(r["f_dim"], r["n"], r["total"]) for r in mv.read().collect()}
    assert got == want


@pytest.mark.slow
def test_sql_facade_expression_group_by_alias_and_expr_spellings(
    spark, tmp_path
):
    """CREATE MATERIALIZED VIEW with a DERIVED group key — both
    ``GROUP BY <alias>`` and ``GROUP BY <expr>`` spellings — the
    reference's time-bucketed rollup shape through the facade. The
    incremental refresh recomputes ONLY touched buckets and stays
    equal to direct recomputation."""
    from rds_to_datalake_project_spark.sql import MATVIEWS, run_query

    facts, _, _ = _mk(spark, tmp_path)
    reg = {"facts_t": facts}

    def _direct_buckets():
        return {
            (r["b"], r["total"])
            for r in facts.read()
            .groupBy((F.col("f_id") % 4).cast("long").alias("b"))
            .agg(F.sum("amount").cast("long").alias("total"))
            .collect()
        }

    try:
        run_query(
            spark,
            "CREATE MATERIALIZED VIEW fb AS SELECT "
            "CAST(f_id % 4 AS BIGINT) AS b, "
            "CAST(sum(amount) AS BIGINT) AS total "
            "FROM facts_t GROUP BY b",
            tables=reg,
        )
        got = {
            (r["b"], r["total"])
            for r in run_query(spark, "SELECT * FROM fb", tables=reg).collect()
        }
        assert got == _direct_buckets()
        # one bucket touched → incremental refresh of exactly 1 group
        facts.upsert(_fbatch(spark, [(400, 1, 17, 1)]))  # f_id 400 → bucket 0
        info = run_query(
            spark, "REFRESH MATERIALIZED VIEW fb", tables=reg
        ).collect()[0]
        assert info["mode"] == "incremental"
        assert info["groups_refreshed"] == 1
        got = {
            (r["b"], r["total"])
            for r in run_query(spark, "SELECT * FROM fb", tables=reg).collect()
        }
        assert got == _direct_buckets()
        run_query(spark, "DROP MATERIALIZED VIEW fb", tables=reg)

        # GROUP BY <expression> spelling: matched textually against the
        # aliased select item
        run_query(
            spark,
            "CREATE MATERIALIZED VIEW fb2 AS SELECT "
            "CAST(f_id % 4 AS BIGINT) AS b, "
            "CAST(count(*) AS BIGINT) AS n "
            "FROM facts_t GROUP BY CAST(f_id % 4 AS BIGINT)",
            tables=reg,
        )
        want = {
            (r["b"], r["n"])
            for r in facts.read()
            .groupBy((F.col("f_id") % 4).cast("long").alias("b"))
            .agg(F.count("*").cast("long").alias("n"))
            .collect()
        }
        got = {
            (r["b"], r["n"])
            for r in run_query(spark, "SELECT * FROM fb2", tables=reg).collect()
        }
        assert got == want
        run_query(spark, "DROP MATERIALIZED VIEW fb2", tables=reg)
    finally:
        MATVIEWS.pop("fb", None)
        MATVIEWS.pop("fb2", None)


def test_sql_facade_matview_name_and_group_by_validation(spark, tmp_path):
    """A quoted non-identifier view name must fail the CREATE loudly
    (it used to create, silently skip the temp-view publish, and never
    be SELECTable); a GROUP BY expression matching no select item
    raises."""
    from rds_to_datalake_project_spark.sql import run_query

    facts, dims, _ = _mk(spark, tmp_path)
    reg = {"facts_t": facts, "dims_t": dims}
    with pytest.raises(ValueError, match="plain identifier"):
        run_query(
            spark,
            "CREATE MATERIALIZED VIEW `my-view` AS SELECT f_dim, "
            "CAST(count(*) AS BIGINT) AS n FROM facts_t GROUP BY f_dim",
            tables=reg,
        )
    with pytest.raises(ValueError, match="exactly one"):
        run_query(
            spark,
            "CREATE MATERIALIZED VIEW gx AS SELECT f_dim, "
            "CAST(count(*) AS BIGINT) AS n FROM facts_t "
            "GROUP BY f_dim % 2",
            tables=reg,
        )


@pytest.mark.slow
def test_join_view_expression_group_keys_converge(spark, tmp_path):
    """Derived group keys on the JOIN form (time-bucketed join rollup
    shape): group by an expression over joined columns, maintained
    incrementally across commits on both sides — equals direct
    recomputation, including through the facade spelling."""
    from rds_to_datalake_project_spark.sql import MATVIEWS, run_query

    facts, dims, _ = _mk(spark, tmp_path)
    view = JoinMaterializedView(
        facts,
        dims,
        str(tmp_path / "ev"),
        on=("f_dim", "d_id"),
        group_cols=["grp", "bucket"],
        aggs={"total": "CAST(sum(amount) AS BIGINT)"},
        group_exprs={"bucket": "CAST(f_id % 3 AS BIGINT)"},
    )

    def _direct_exprs():
        f, d = facts.read(), dims.read()
        return {
            (r["grp"], r["bucket"], r["total"])
            for r in f.join(d, f["f_dim"] == d["d_id"])
            .withColumn("bucket", (F.col("f_id") % 3).cast("long"))
            .groupBy("grp", "bucket")
            .agg(F.sum("amount").cast("long").alias("total"))
            .collect()
        }

    assert view.refresh()["mode"] == "full"
    got = {
        (r["grp"], r["bucket"], r["total"]) for r in view.read().collect()
    }
    assert got == _direct_exprs()
    # commits on both sides, then incremental convergence
    facts.upsert(
        _fbatch(spark, [(300, 2, 9, 1)]).unionByName(
            _fbatch(spark, [(4, 4, 40, 1)], op="D")
        ),
        delete_mode="apply",
    )
    dims.upsert(_dbatch(spark, [(1, "gz", 1)]))
    out = view.refresh()
    assert out["mode"] == "incremental"
    got = {
        (r["grp"], r["bucket"], r["total"]) for r in view.read().collect()
    }
    assert got == _direct_exprs()

    # the facade JOIN spelling accepts the derived key too
    reg = {"facts_t": facts, "dims_t": dims}
    try:
        run_query(
            spark,
            "CREATE MATERIALIZED VIEW jb AS SELECT grp, "
            "CAST(f_id % 3 AS BIGINT) AS bucket, "
            "CAST(sum(amount) AS BIGINT) AS total "
            "FROM facts_t JOIN dims_t ON f_dim = d_id GROUP BY grp, bucket",
            tables=reg,
        )
        got = {
            (r["grp"], r["bucket"], r["total"])
            for r in run_query(spark, "SELECT * FROM jb", tables=reg).collect()
        }
        assert got == _direct_exprs()
        run_query(spark, "DROP MATERIALIZED VIEW jb", tables=reg)
    finally:
        MATVIEWS.pop("jb", None)


@pytest.mark.slow
def test_stacked_views_cascade_through_versioned_store(spark, tmp_path):
    """View-on-view: a versioned store makes a matview a valid BASE
    for another matview (hourly → daily continuous-aggregate cascade).
    Hooks chain — a base commit refreshes level 1, whose store commit
    refreshes level 2 — and an upstream FULL rebuild re-mints the
    store incarnation so level 2 full-rebuilds instead of reading the
    reset as incremental progress."""
    from rds_to_datalake_project_spark.operators.matview import (
        MaterializedView,
        attach_matview_maintenance,
    )

    facts, _, _ = _mk(spark, tmp_path)
    lvl1 = MaterializedView(
        facts,
        str(tmp_path / "v1"),
        ["f_dim"],
        {"total": "CAST(sum(amount) AS BIGINT)"},
        store_retain_versions=4,
    )
    lvl1.refresh()
    lvl2 = MaterializedView(
        lvl1.store,
        str(tmp_path / "v2"),
        ["parity"],
        {"grand": "CAST(sum(total) AS BIGINT)"},
        group_exprs={"parity": "CAST(f_dim % 2 AS BIGINT)"},
    )
    lvl2.refresh()
    attach_matview_maintenance(facts, lvl1)
    attach_matview_maintenance(lvl1.store, lvl2)

    def want():
        return {
            tuple(r)
            for r in facts.read()
            .withColumn("parity", (F.col("f_dim") % 2).cast("long"))
            .groupBy("parity")
            .agg(F.sum("amount").cast("long").alias("grand"))
            .select("parity", "grand")
            .collect()
        }

    def got():
        return {
            tuple(r)
            for r in lvl2.read().select("parity", "grand").collect()
        }

    assert got() == want()
    # ONE base commit cascades through both levels via chained hooks
    facts.upsert(
        _fbatch(spark, [(800, 1, 13, 1)]).unionByName(
            _fbatch(spark, [(3, 3, 30, 1)], op="D")
        ),
        delete_mode="apply",
    )
    assert got() == want()
    # upstream FULL rebuild (store reset): the store's initial_load
    # fires the maintenance hook, whose refresh sees the re-minted
    # incarnation and full-rebuilds level 2 immediately — an explicit
    # refresh afterwards is a clean noop, never a stale read
    lvl1._full(lvl1._heads())
    assert got() == want()
    out = lvl2.refresh()
    assert out["mode"] in ("noop", "full")
    assert got() == want()
