"""The commit log (operators/commitlog): one format, one reader.

Pinned here: the record format round-trips byte for byte (tables and
stagings written before the module existed must keep recovering and
reading); no other module renders or parses a record; the history
consumers' metadata-op counts stay at their budget; and a commit
record missing from a range makes the range unknowable.
"""

from __future__ import annotations

import ast
import collections
import pathlib
import threading

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

import rds_to_datalake_project_spark
from rds_to_datalake_project_spark import fsio
from rds_to_datalake_project_spark.operators import commitlog
from rds_to_datalake_project_spark.operators.upsert import KeyedTable
from rds_to_datalake_project_spark.schema import TableSpec

_M01 = "create_year=2024/create_month=01"
_M03 = "create_year=2024/create_month=03"
_M04 = "create_year=2024/create_month=04"

# A flag as the publish path writes it, with every line kind.
FULL_FLAG = (
    "#version=7\n"
    f"#created={_M03}\t{_M04}\n"
    "#base_token=0f1e2d3c4b5a69788796a5b4c3d2e1f0\n"
    "#dv_target=v7\n"
    f"#dv_rels={_M01}\n"
    f"#appended={_M01}/part-00000-aa.c000.snappy.parquet\t"
    f"{_M03}/part-00001-bb.c000.snappy.parquet\n"
    "part-00000-cc.snappy.parquet\n"
    "part-00001-dd.snappy.parquet"
)
# A staging flagged before the base-token protocol: no #base_token
# line, so it publishes unconditionally.
LEGACY_FLAG = f"#version=2\n#created={_M01}\npart-00000-ee.snappy.parquet"
# The record vacuum_partitions commits.
DROP_FLAG = "#version=3\n#created="


def test_record_format_round_trips_byte_for_byte():
    rec = commitlog.parse(FULL_FLAG)
    assert rec == commitlog.CommitRecord(
        version=7,
        created=(_M03, _M04),
        base_token="0f1e2d3c4b5a69788796a5b4c3d2e1f0",
        dv_target="v7",
        dv_rels=(_M01,),
        appended=(
            f"{_M01}/part-00000-aa.c000.snappy.parquet",
            f"{_M03}/part-00001-bb.c000.snappy.parquet",
        ),
        manifest=("part-00000-cc.snappy.parquet", "part-00001-dd.snappy.parquet"),
    )
    legacy = commitlog.parse(LEGACY_FLAG)
    assert legacy == commitlog.CommitRecord(
        version=2, created=(_M01,), manifest=("part-00000-ee.snappy.parquet",)
    )
    assert legacy.base_token is None  # absent line ≠ empty token
    assert commitlog.parse("#version=1\n#created=\n#base_token=").base_token == ""
    assert commitlog.CommitRecord(version=3) == commitlog.parse(DROP_FLAG)
    for text in (FULL_FLAG, LEGACY_FLAG, DROP_FLAG, "#base_token=t\nf.parquet"):
        assert commitlog.parse(text).render() == text


_FORMAT_TOKENS = (
    ".flag",
    "#version",
    "#created",
    "#base_token",
    "#dv_target",
    "#dv_rels",
    "#appended",
)


def _format_sites(package_root: pathlib.Path) -> list[str]:
    """``file:line`` of every string literal holding a piece of the
    record format, and of every ``_flag_meta`` call, outside
    commitlog.py (docstrings may describe the format)."""
    hits = []
    for path in sorted(package_root.rglob("*.py")):
        if path.name == "commitlog.py":
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
                and any(tok in node.value for tok in _FORMAT_TOKENS)
            ):
                hits.append(f"{rel}:{node.lineno}")
            elif isinstance(node, ast.Call) and "_flag_meta" in (
                getattr(node.func, "attr", None),
                getattr(node.func, "id", None),
            ):
                hits.append(f"{rel}:{node.lineno}")
    return hits


def test_no_module_outside_commitlog_knows_the_record_format():
    root = pathlib.Path(rds_to_datalake_project_spark.__file__).parent
    sites = _format_sites(root)
    assert not sites, f"commit-record format outside commitlog.py: {sites}"


# -- the reader on a retained, day-partitioned table ------------------------

_SPEC = TableSpec(
    "cl_log",
    record_key=("id",),
    precombine_key="update_at",
    partition_source="day",
    partition_granularity="day",
)


def _rows(spark, ver):
    return spark.createDataFrame(
        [
            Row(id=i, day=f"2024-01-{(i % 4) + 1:02d}", amount=float(i), update_at=ver)
            for i in range(40)
        ]
    )


@pytest.fixture(scope="module")
def history(spark, tmp_path_factory):
    """A ``retain_versions=2`` table after 6 upserts; upsert i rewrites
    day ``i % 4 + 1``; ``stamps[i]`` is the snapshot upsert i started
    from."""
    t = KeyedTable(
        spark,
        str(tmp_path_factory.mktemp("commitlog") / "t"),
        _SPEC,
        retain_versions=2,
    )
    t.initial_load(_rows(spark, "v0"))
    stamps = {}
    for i in range(1, 7):
        stamps[i] = t._snapshot_stamp()
        t.upsert(_rows(spark, f"v{i}").filter(F.col("id") % 4 == i % 4))
    assert t.versions() == [5, 6]
    return t, stamps


def _day(t, d):
    (rel,) = [r for r in t._staged_partition_dirs(t.path) if r.endswith(f"={d}")]
    return rel


@pytest.fixture
def fs_ops(monkeypatch):
    """Counts of the public ``NativeFS`` calls made (outermost only)."""
    counts: collections.Counter = collections.Counter()
    local = threading.local()
    for name in (
        "exists",
        "getFileStatus",
        "listStatus",
        "listFiles",
        "delete",
        "mkdirs",
        "create",
        "open",
        "getContentSummary",
        "rename",
        "read_text",
    ):
        orig = getattr(fsio.NativeFS, name)

        def counted(self, *a, _orig=orig, _name=name, **k):
            if getattr(local, "depth", 0):
                return _orig(self, *a, **k)
            local.depth = 1
            try:
                counts[_name] += 1
                return _orig(self, *a, **k)
            finally:
                local.depth = 0

        monkeypatch.setattr(fsio.NativeFS, name, counted)
    return counts


def test_history_consumers_metadata_op_budget(history, fs_ops):
    """Metadata calls per consumer, counted on the table above. Counts
    do not depend on host load, so a walk that creeps back fails here
    instead of hiding in wall-time noise. Before the commit log each
    consumer listed ``.meta`` and re-read the records itself:

    ====================================  ======  =====
    consumer                              before  after
    ====================================  ======  =====
    build table_changes(5, 6, preimage)       51     39
    read_as_of(5)                             18     13
    describe_history()                        16     16
    _disjoint_since over one commit           11      8
    ====================================  ======  =====
    """
    t, stamps = history
    budget = {
        "table_changes": 39,
        "read_as_of": 13,
        "describe_history": 16,
        "disjoint_since": 8,
    }
    day2 = _day(t, "02")  # upsert 6 rewrote day 03
    calls = {
        "table_changes": lambda: t.table_changes(5, 6, include_preimage=True),
        "read_as_of": lambda: t.read_as_of(5),
        "describe_history": t.describe_history,
        "disjoint_since": lambda: t._disjoint_since(stamps[6], {day2}),
    }
    used = {}
    for name, call in calls.items():
        fs_ops.clear()
        call()
        used[name] = sum(fs_ops.values())
    assert t._disjoint_since(stamps[6], {day2})
    assert all(used[k] <= budget[k] for k in budget), used


def test_an_expired_record_makes_the_range_unknowable(history):
    """Upsert 4 rewrote day 01 and retention has since expired its
    record: a merge stamped before it cannot prove disjointness from
    what remains (upserts 5 and 6 rewrote days 02 and 03)."""
    t, stamps = history
    assert t._touched_rels_between(3, 6) is None
    assert not t._disjoint_since(stamps[4], {_day(t, "01")})
    with pytest.raises(FileNotFoundError):
        commitlog.read_range(t, 3, 6)
    assert [r.version for r in commitlog.read_range(t)] == [5, 6]
    assert t._touched_rels_between(4, 6) == {_day(t, "02"), _day(t, "03")}
