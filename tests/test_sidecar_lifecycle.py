"""The one sidecar lifecycle (``operators/sidecar.py``) and the
Spark-job budgets of the seven epoch-stamped services that use it.

Every service builds, no-ops at the table head and publishes a change
window through that lifecycle. The guard fails when a module outside
``sidecar.py`` writes a sidecar marker or calls a lifecycle step
itself. The budgets pin each service's job count for a full build, a
refresh at the head and a warm incremental refresh, so a lifecycle
change that adds a job to any service fails here rather than drifting
in a benchmark.

Jobs are counted as the delta of the scheduler's global job id around
the call (the ``tests/test_matview_job_budget.py`` counter). All seven
services share one table. Each refresh is measured right after its
own commit, so every measured call is the first reader of that commit
and pays the same cache warm-up.
"""

from __future__ import annotations

import ast
import pathlib
import re

import pytest

import rds_to_datalake_project_spark

from rds_to_datalake_project_spark.operators.ann_index import (
    build_ann_index,
    refresh_ann_index,
)
from rds_to_datalake_project_spark.operators.lsh_index import (
    build_lsh_index,
    refresh_lsh_index,
)
from rds_to_datalake_project_spark.operators.secondary_index import (
    build_secondary_index,
    build_secondary_range_index,
    refresh_secondary_index,
    refresh_secondary_range_index,
)
from rds_to_datalake_project_spark.operators.sketch import (
    build_sketches,
    refresh_sketches,
)
from rds_to_datalake_project_spark.operators.stats import build_table_stats
from rds_to_datalake_project_spark.operators.text_index import (
    build_text_index,
    refresh_text_index,
)
from rds_to_datalake_project_spark.operators.upsert import KeyedTable
from rds_to_datalake_project_spark.schema import TableSpec

# the lifecycle's own markers and steps, known only to sidecar.py
_MARKER = re.compile(r"\b_(VERSION|EPOCH|DELTAS)\b")
_STEPS = {
    "write_state",
    "clear_delta_log",
    "publish_family_delta",
    "parts_consistent",
    "family_consistent",
}


def _lifecycle_sites(package_root: pathlib.Path) -> list[str]:
    """``file:line`` of every string literal naming a sidecar marker
    (docstrings may describe them) and of every call to a lifecycle
    step, outside sidecar.py."""
    hits = []
    for path in sorted(package_root.rglob("*.py")):
        if path.name == "sidecar.py":
            continue
        rel = path.relative_to(package_root.parent)
        tree = ast.parse(path.read_text(), filename=str(path))
        docstrings = {
            id(node.body[0].value)
            for node in ast.walk(tree)
            if isinstance(
                node,
                (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef),
            )
            and node.body
            and isinstance(node.body[0], ast.Expr)
            and isinstance(node.body[0].value, ast.Constant)
        }
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and id(node) not in docstrings
                and _MARKER.search(node.value)
            ) or (
                isinstance(node, ast.Call)
                and _STEPS & {
                    getattr(node.func, "attr", None),
                    getattr(node.func, "id", None),
                }
            ):
                hits.append(f"{rel}:{node.lineno}")
    return hits


def test_no_module_outside_sidecar_runs_the_lifecycle():
    root = pathlib.Path(rds_to_datalake_project_spark.__file__).parent
    sites = _lifecycle_sites(root)
    assert not sites, f"sidecar lifecycle outside sidecar.py: {sites}"


COLS = "id long, cust string, amount double, text string, emb array<double>, seq long"

# service -> (build, refresh); refresh None = the service has no
# public refresh (stats refreshes from its maintenance hook only).
SERVICES = {
    "secondary": (
        lambda t: build_secondary_index(t, "cust"),
        lambda t: refresh_secondary_index(t, "cust"),
    ),
    "range": (
        lambda t: build_secondary_range_index(t, "amount"),
        lambda t: refresh_secondary_range_index(t, "amount"),
    ),
    "text": (
        lambda t: build_text_index(t, "id", "text"),
        lambda t: refresh_text_index(t, "id", "text"),
    ),
    "lsh": (
        lambda t: build_lsh_index(t, "id", "text"),
        lambda t: refresh_lsh_index(t, "id", "text"),
    ),
    "ann": (
        lambda t: build_ann_index(t, "id", "emb"),
        lambda t: refresh_ann_index(t, "id", "emb"),
    ),
    "sketch": (
        lambda t: build_sketches(t, "cust"),
        lambda t: refresh_sketches(t, "cust"),
    ),
    "stats": (lambda t: build_table_stats(t), None),
}

# (build, refresh at head, warm incremental refresh) jobs. The builds
# were measured by this test on the tree before the services shared one
# lifecycle; the incremental refreshes since their change window is
# computed once per refresh (it was 10, 10, 18, 20, 19 and 21 jobs
# when every part write re-evaluated it).
BUDGET = {
    "secondary": (3, 0, 6),
    "range": (4, 0, 6),
    "text": (5, 0, 10),
    "lsh": (5, 0, 8),
    "ann": (8, 0, 9),
    "sketch": (4, 0, 19),
    "stats": (10, None, None),
}
# what a refresh returns once it is at the head / has published a window
NOOP = {"lsh": (0, 0), "ann": (0, 0)}
INCREMENTAL = {"lsh": (50, 0), "ann": (50, 0)}


def _row(i: int, r: int):
    return (
        i,
        f"c{(i + r) % 37}",
        float((i * 7 + r) % 500) + 0.5,
        f"doc {i} about topic {(i + r) % 11} and word{(i * r) % 13}",
        [float((i * 7 + j + r) % 10) / 10.0 for j in range(4)],
        r,
    )


def _jobs(spark, fn):
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    j0 = sched.nextJobId()
    out = fn()
    return sched.nextJobId() - j0, out


@pytest.fixture(scope="module")
def measured(spark, tmp_path_factory):
    """{service: (build, noop, incremental) jobs} plus the refresh
    return values, from one shared 2,000-row table."""
    t = KeyedTable(
        spark,
        str(tmp_path_factory.mktemp("sidecar_jobs") / "t"),
        TableSpec("sjb", record_key=("id",), precombine_key="seq",
                  partition_granularity=None),
        retain_versions=16,
    )
    t.initial_load(spark.createDataFrame([_row(i, 0) for i in range(2000)], COLS))
    rounds = iter(range(1, 100))

    def commit():
        # one 50-row upsert: 40 updates and 10 inserts, no deletes
        r = next(rounds)
        ids = [(r * 41 + k * 47) % 2000 for k in range(40)]
        ids += [2000 + r * 10 + k for k in range(10)]
        t.upsert(spark.createDataFrame([(*_row(i, r), "U") for i in ids],
                                       COLS + ", Op string"))

    out = {}
    for name, (build, refresh) in SERVICES.items():
        b, _ = _jobs(spark, lambda: build(t))
        if refresh is None:
            out[name] = ((b, None, None), None, None)
            continue
        n, noop = _jobs(spark, lambda: refresh(t))
        commit()
        refresh(t)  # warm-up: first incremental refresh
        commit()
        i, inc = _jobs(spark, lambda: refresh(t))
        out[name] = ((b, n, i), noop, inc)
    return out


@pytest.mark.parametrize("service", list(SERVICES))
def test_sidecar_service_job_budget(measured, service):
    jobs, noop, inc = measured[service]
    budget = BUDGET[service]
    if SERVICES[service][1] is not None:
        assert noop == NOOP.get(service, "noop")
        assert inc == INCREMENTAL.get(service, "incremental")
    assert all(
        got <= cap for got, cap in zip(jobs, budget) if cap is not None
    ), (service, jobs, budget)
