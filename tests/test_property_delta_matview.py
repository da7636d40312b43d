"""Property-based test of delta-merge view maintenance (hypothesis):
for ANY sequence of CDC events in ANY batch split — inserts, value
updates, GROUP-moving updates, deletes, reinserts — the
DeltaMaterializedView (refreshed once per batch) equals direct
recomputation over the final table, including SQL NULL semantics
(SUM over zero non-null contributors renders NULL) and group
tombstoning. Signed-delta arithmetic has no second chance: a single
missed retraction is a permanently wrong sum, which is exactly what
this sweep hunts."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from rds_to_datalake_project_spark.operators.matview import (
    DeltaMaterializedView,
)
from rds_to_datalake_project_spark.operators.upsert import KeyedTable
from rds_to_datalake_project_spark.schema import TableSpec

# events: (key 0..5, version 0..12). Group, amount, nullable opt and
# the delete flag are deterministic functions of (key, version) so
# duplicate events are identical rows and the oracle is exact.
events_strategy = st.lists(
    st.tuples(st.integers(0, 5), st.integers(0, 12)),
    min_size=1,
    max_size=18,
)
cuts_strategy = st.lists(st.integers(1, 17), max_size=2)


def _grp(k, v):
    return f"g{(k + v) % 3}"  # version moves keys BETWEEN groups


def _amount(k, v):
    return 10 * k + v


def _opt(k, v):
    return None if (k + v) % 3 == 0 else k * v  # NULL contributions


def _is_delete(v):
    return v % 5 == 0 and v > 0


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(events=events_strategy, cuts=cuts_strategy)
@pytest.mark.slow
def test_delta_view_equals_recompute_for_any_cdc_sequence(
    spark, tmp_path_factory, events, cuts
):
    tmp = tmp_path_factory.mktemp("pdmv")
    spec = TableSpec(
        "pf", record_key=("k",), precombine_key="v",
        partition_granularity=None,
    )
    t = KeyedTable(spark, str(tmp / "t"), spec, retain_versions=12)
    t.initial_load(spark.createDataFrame(
        [(k, _grp(k, 0), _amount(k, 0), _opt(k, 0), 0) for k in range(3)],
        "k long, grp string, amount long, opt long, v long"))
    view = DeltaMaterializedView(
        t, str(tmp / "v"), ["grp"],
        {"n": "count(*)", "total": "sum(amount)",
         "nn": "count(opt)", "osum": "sum(opt)"},
    )
    view.refresh()

    positions = sorted({c for c in cuts if c < len(events)})
    batches, prev = [], 0
    for p in positions + [len(events)]:
        if events[prev:p]:
            batches.append(events[prev:p])
        prev = p
    for chunk in batches:
        rows = [
            (k, _grp(k, v), _amount(k, v), _opt(k, v), v,
             "D" if _is_delete(v) else "U")
            for k, v in chunk
        ]
        t.upsert(
            spark.createDataFrame(
                rows, "k long, grp string, amount long, opt long, "
                      "v long, Op string"),
            delete_mode="apply",
        )
        view.refresh()  # one signed-delta merge per commit

    want = {
        tuple(r)
        for r in t.read().groupBy("grp").agg(
            F.count("*").cast("long").alias("n"),
            F.sum("amount").alias("total"),
            F.count("opt").cast("long").alias("nn"),
            F.sum("opt").alias("osum"),
        ).select("grp", "n", "total", "nn", "osum").collect()
    }
    got = {
        tuple(r)
        for r in view.read().select("grp", "n", "total", "nn", "osum").collect()
    }
    assert got == want


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(events=events_strategy, cuts=cuts_strategy)
@pytest.mark.slow
def test_minmax_delta_view_equals_recompute_for_any_cdc_sequence(
    spark, tmp_path_factory, events, cuts
):
    """min/max under arbitrary churn: every removed-extremum case must
    repair from the snapshot, every interior change must merge purely
    — one missed repair is a permanently wrong extremum."""
    tmp = tmp_path_factory.mktemp("pmmv")
    spec = TableSpec(
        "pfm", record_key=("k",), precombine_key="v",
        partition_granularity=None,
    )
    t = KeyedTable(spark, str(tmp / "t"), spec, retain_versions=12)
    t.initial_load(spark.createDataFrame(
        [(k, _grp(k, 0), _amount(k, 0), _opt(k, 0), 0) for k in range(3)],
        "k long, grp string, amount long, opt long, v long"))
    view = DeltaMaterializedView(
        t, str(tmp / "v"), ["grp"],
        {"n": "count(*)", "lo": "min(amount)", "hi": "max(amount)",
         "olo": "min(opt)", "ohi": "max(opt)"},
    )
    view.refresh()

    positions = sorted({c for c in cuts if c < len(events)})
    batches, prev = [], 0
    for p in positions + [len(events)]:
        if events[prev:p]:
            batches.append(events[prev:p])
        prev = p
    for chunk in batches:
        rows = [
            (k, _grp(k, v), _amount(k, v), _opt(k, v), v,
             "D" if _is_delete(v) else "U")
            for k, v in chunk
        ]
        t.upsert(
            spark.createDataFrame(
                rows, "k long, grp string, amount long, opt long, "
                      "v long, Op string"),
            delete_mode="apply",
        )
        view.refresh()

    want = {
        tuple(r)
        for r in t.read().groupBy("grp").agg(
            F.count("*").cast("long").alias("n"),
            F.min("amount").alias("lo"),
            F.max("amount").alias("hi"),
            F.min("opt").alias("olo"),
            F.max("opt").alias("ohi"),
        ).select("grp", "n", "lo", "hi", "olo", "ohi").collect()
    }
    got = {
        tuple(r)
        for r in view.read()
        .select("grp", "n", "lo", "hi", "olo", "ohi").collect()
    }
    assert got == want


# --- delta JOIN views: both feeds churn -----------------------------------------

# fact events: (f_id 0..5, version); dim events: (d_id 0..2, version).
# All attributes are deterministic functions of (id, version) so the
# oracle is exact; dim versions MOVE groups and versions %4==0 delete.
join_events_strategy = st.lists(
    st.tuples(
        st.booleans(),  # True = fact event, False = dim event
        st.integers(0, 5),
        st.integers(0, 10),
    ),
    min_size=1,
    max_size=16,
)


def _fk(k, v):
    return None if (k + v) % 7 == 0 else (k + v) % 3


def _gname(d, v):
    return f"g{(d + v) % 4}"


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(events=join_events_strategy, cuts=cuts_strategy)
@pytest.mark.parametrize("how", ["inner", "left"])
@pytest.mark.slow
def test_delta_join_view_equals_recompute_for_any_cdc_sequence(
    spark, tmp_path_factory, how, events, cuts
):
    """Δ(A⋈B) maintenance under interleaved fact/dim churn in arbitrary
    batch splits — including windows where BOTH sides change (the
    −ΔA⋈ΔB correction term) and fk moves through NULL (rows leaving /
    joining the view entirely). Under ``how="left"`` the same churn
    drives the dangling (NULL-extension) correction: fks whose dim row
    appears, vanishes or never existed, and NULL fks. A recompute
    JoinMaterializedView over the same events must agree too."""
    from rds_to_datalake_project_spark.operators.matview import (
        DeltaJoinMaterializedView,
        JoinMaterializedView,
    )

    tmp = tmp_path_factory.mktemp("pdjv")
    fact = KeyedTable(
        spark, str(tmp / "f"),
        TableSpec("pjf", record_key=("f_id",), precombine_key="fv",
                  partition_granularity=None),
        retain_versions=12,
    )
    dim = KeyedTable(
        spark, str(tmp / "d"),
        TableSpec("pjd", record_key=("d_id",), precombine_key="dv",
                  partition_granularity=None),
        retain_versions=12,
    )
    fact.initial_load(spark.createDataFrame(
        [(k, _fk(k, 0), _amount(k, 0), 0) for k in range(4)],
        "f_id long, fk long, amount long, fv long"))
    dim.initial_load(spark.createDataFrame(
        [(d, _gname(d, 0), 0) for d in range(3)],
        "d_id long, gname string, dv long"))
    views = [
        cls(
            fact, dim, str(tmp / sub), on=("fk", "d_id"),
            group_cols=["gname"],
            aggs={"n": "count(*)", "total": "sum(amount)"},
            how=how,
        )
        for cls, sub in (
            (DeltaJoinMaterializedView, "v"),
            (JoinMaterializedView, "rv"),
        )
    ]
    for view in views:
        view.refresh()

    positions = sorted({c for c in cuts if c < len(events)})
    batches, prev = [], 0
    for p in positions + [len(events)]:
        if events[prev:p]:
            batches.append(events[prev:p])
        prev = p
    for chunk in batches:
        frows = [
            (k, _fk(k, v), _amount(k, v), v, "D" if v % 4 == 0 and v else "U")
            for is_f, k, v in chunk if is_f
        ]
        drows = [
            (d % 3, _gname(d % 3, v), v, "D" if v % 4 == 0 and v else "U")
            for is_f, d, v in chunk if not is_f
        ]
        if frows:
            fact.upsert(spark.createDataFrame(
                frows, "f_id long, fk long, amount long, fv long, Op string"),
                delete_mode="apply")
        if drows:
            dim.upsert(spark.createDataFrame(
                drows, "d_id long, gname string, dv long, Op string"),
                delete_mode="apply")
        for view in views:
            view.refresh()

    j = fact.read().join(dim.read(), F.col("fk") == F.col("d_id"), how)
    want = {
        tuple(r)
        for r in j.groupBy("gname").agg(
            F.count("*").cast("long").alias("n"),
            F.sum("amount").alias("total"),
        ).select("gname", "n", "total").collect()
    }
    for view in views:
        got = {
            tuple(r)
            for r in view.read().select("gname", "n", "total").collect()
        }
        assert got == want, type(view).__name__


def _u(k, v):
    return None if (k * v) % 5 == 0 else (k + 2 * v) % 4


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(events=events_strategy, cuts=cuts_strategy)
@pytest.mark.slow
def test_count_distinct_delta_equals_recompute_for_any_cdc_sequence(
    spark, tmp_path_factory, events, cuts
):
    """count(DISTINCT) under arbitrary churn: every value birth/death
    must move ndv by exactly the aux store's 0↔positive transitions —
    one missed retirement is a permanently wrong distinct count."""
    tmp = tmp_path_factory.mktemp("pcdv")
    spec = TableSpec(
        "pfc", record_key=("k",), precombine_key="v",
        partition_granularity=None,
    )
    t = KeyedTable(spark, str(tmp / "t"), spec, retain_versions=12)
    t.initial_load(spark.createDataFrame(
        [(k, _grp(k, 0), _u(k, 0), _amount(k, 0), 0) for k in range(3)],
        "k long, grp string, u long, amount long, v long"))
    view = DeltaMaterializedView(
        t, str(tmp / "v"), ["grp"],
        {"n": "count(*)", "nd": "count(DISTINCT u)", "s": "sum(amount)"},
    )
    view.refresh()

    positions = sorted({c for c in cuts if c < len(events)})
    batches, prev = [], 0
    for p in positions + [len(events)]:
        if events[prev:p]:
            batches.append(events[prev:p])
        prev = p
    for chunk in batches:
        rows = [
            (k, _grp(k, v), _u(k, v), _amount(k, v), v,
             "D" if _is_delete(v) else "U")
            for k, v in chunk
        ]
        t.upsert(
            spark.createDataFrame(
                rows, "k long, grp string, u long, amount long, "
                      "v long, Op string"),
            delete_mode="apply",
        )
        view.refresh()

    want = {
        tuple(r)
        for r in t.read().groupBy("grp").agg(
            F.count("*").cast("long").alias("n"),
            F.countDistinct("u").cast("long").alias("nd"),
            F.sum("amount").alias("s"),
        ).select("grp", "n", "nd", "s").collect()
    }
    got = {
        tuple(r)
        for r in view.read().select("grp", "n", "nd", "s").collect()
    }
    assert got == want
