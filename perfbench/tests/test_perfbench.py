"""The benchmark's own checks: generator determinism, the oracle
catching a corrupt row, the bare-directory refusal, and a tiny-size
smoke of the one command.

Run from the repository root:

    python3 -m pytest perfbench/tests -q -m ""
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402

SMALL = gen.Profile(2_000, 5, 200, 4, (0.15, 0.80, 0.05), hot_days=2)


def _digest(d: str) -> str:
    h = hashlib.sha256()
    for root, dirs, files in os.walk(d):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(root, f)
            h.update(os.path.relpath(p, d).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def test_generator_is_deterministic_per_seed(tmp_path):
    a = gen.generate(SMALL, 7, str(tmp_path / "a"))
    b = gen.generate(SMALL, 7, str(tmp_path / "b"))
    c = gen.generate(SMALL, 8, str(tmp_path / "c"))
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    assert _digest(str(tmp_path / "a")) != _digest(str(tmp_path / "c"))
    assert [f.name for f in a.files] == [f.name for f in b.files]
    # DMS layout: YYYY/MM/DD/HH/YYYYMMDD-HHMMSSfff.parquet, in commit order
    assert a.files[0].name == "2024/03/01/00/20240301-000001000.parquet"
    assert [f.commit_ts for f in a.files] == sorted(f.commit_ts for f in a.files)


def test_generator_mix_and_hot_keys(tmp_path):
    import pyarrow.parquet as pq

    g = gen.generate(SMALL, 3, str(tmp_path))
    t = pq.read_table(os.path.join(g.pending_dir, g.files[0].name)).to_pylist()
    ops = [r["Op"] for r in t]
    assert (ops.count("I"), ops.count("U"), ops.count("D")) == (30, 160, 10)
    # updates and deletes only touch the newest two day partitions
    days = {r["create_at"][:10] for r in t if r["Op"] != "I"}
    assert days <= {"2024-01-04", "2024-01-05"}


def test_truth_agrees_with_duckdb_replay(tmp_path):
    import pyarrow.parquet as pq

    g = gen.generate(SMALL, 5, str(tmp_path))
    paths = [os.path.join(g.pending_dir, f.name) for f in g.files]
    out = str(tmp_path / "expected.parquet")
    n = gen.expected_state(g.snapshot, paths, out)
    truth = gen.Truth(g)
    truth.advance(len(g.files))
    rows = {tuple(r[c] for c in gen.COLUMNS) for r in pq.read_table(out).to_pylist()}
    assert n == len(truth.state) == 2_000 + 4 * (30 - 10)
    assert rows == set(truth.state.values())


@pytest.fixture(scope="module")
def spark():
    sys.path.insert(0, ROOT)
    from rds_to_datalake_project_spark.session import get_spark

    s = get_spark(
        app_name="perfbench-tests",
        master="local[2]",
        shuffle_partitions=2,
        extra_conf={"spark.driver.memory": "1g", "spark.ui.showConsoleProgress": "false"},
    )
    yield s
    s.stop()


def test_oracle_catches_a_corrupt_row(spark, tmp_path):
    """The end-of-run check (compare_tables against DuckDB's replay)
    fails when a single committed value is wrong."""
    import pyarrow.parquet as pq
    from rds_to_datalake_project_spark.operators.compare import compare_tables
    from rds_to_datalake_project_spark.schema import TRANSACTIONS

    g = gen.generate(SMALL, 9, str(tmp_path))
    exp = str(tmp_path / "expected.parquet")
    gen.expected_state(g.snapshot, [os.path.join(g.pending_dir, f.name) for f in g.files], exp)
    rows = pq.read_table(exp).to_pylist()
    rows[17]["amount"] += 1
    bad = str(tmp_path / "corrupt.parquet")
    import pyarrow as pa

    pq.write_table(pa.Table.from_pylist(rows, schema=gen.SNAPSHOT_SCHEMA), bad)
    expected = spark.read.schema(TRANSACTIONS).parquet(exp)
    assert compare_tables(expected, spark.read.schema(TRANSACTIONS).parquet(exp)).equal
    res = compare_tables(expected, spark.read.schema(TRANSACTIONS).parquet(bad))
    assert not res.equal
    assert (res.n_only_in_source, res.n_only_in_lake) == (1, 1)


def test_refuses_to_run_without_the_engine(tmp_path):
    """In a directory holding only the benchmark, the command exits
    non-zero and prints no result."""
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "trickle", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""


@pytest.mark.slow
@pytest.mark.parametrize("workload,trace", [("trickle", 0), ("backfill", 0), ("serve", 1)])
def test_smoke_one_command(workload, trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "4", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    kind = "per_layer" if trace else "end_to_end"
    assert set(out["metrics"]) == {m["name"] for m in spec[kind]}
    for m in spec[kind]:
        assert out["metrics"][m["name"]]["unit"] == m["unit"]
