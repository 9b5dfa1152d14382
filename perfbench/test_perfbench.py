"""Tests of the benchmark itself: ``python3 -m pytest perfbench -q``."""

from __future__ import annotations

import filecmp
import json
import os
import pathlib
import shutil
import subprocess
import sys
import tempfile

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402
from probe import union_length  # noqa: E402
from workloads import tail  # noqa: E402

SPEC = run.spec()


@pytest.fixture
def tmp_path():
    """A scratch directory inside the checkout's ignored ``.perfbench/``."""
    base = os.path.join(ROOT, ".perfbench")
    os.makedirs(base, exist_ok=True)
    d = tempfile.mkdtemp(prefix="test-", dir=base)
    yield pathlib.Path(d)
    shutil.rmtree(d, ignore_errors=True)


def _same_files(a: str, b: str) -> bool:
    names = sorted(os.listdir(a))
    return names == sorted(os.listdir(b)) and all(
        filecmp.cmp(os.path.join(a, n), os.path.join(b, n), shallow=False) for n in names
    )


def test_registry_fixture_is_a_function_of_the_seed(tmp_path):
    for d, seed in (("a", 7), ("b", 7), ("c", 8)):
        gen.write_registry_fixture(str(tmp_path / d), seed, scale=0.001, n_vectors=500)
    assert _same_files(tmp_path / "a", tmp_path / "b")
    assert not filecmp.cmp(tmp_path / "a" / "lineitem.parquet", tmp_path / "c" / "lineitem.parquet", shallow=False)


def test_archive_tables_are_a_function_of_the_seed(tmp_path):
    for d, seed in (("a", 7), ("b", 7), ("c", 8)):
        gen.write_archive_tables(str(tmp_path / d), seed, 2_000)
    assert _same_files(tmp_path / "a", tmp_path / "b")
    assert not filecmp.cmp(tmp_path / "a" / "instances.parquet", tmp_path / "c" / "instances.parquet", shallow=False)


def test_archive_rows_depend_only_on_their_key(tmp_path):
    import pyarrow.parquet as pq

    gen.write_archive_tables(str(tmp_path / "small"), 3, 1_000)
    gen.write_archive_tables(str(tmp_path / "big"), 3, 3_000)
    for t in ("instances", "instance_metadata"):
        small = pq.read_table(tmp_path / "small" / f"{t}.parquet")
        big = pq.read_table(tmp_path / "big" / f"{t}.parquet").slice(0, small.num_rows)
        assert small.equals(big)


def test_tail_has_ten_samples_beyond_it():
    vals = [float(i) for i in range(40)]
    value, pct, n = tail(vals)
    assert n == 40 and pct == 75.0
    assert sum(v > value for v in vals) == 10
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)


def test_union_length_merges_and_clips():
    assert union_length([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert union_length([(0, 2), (1, 3)], 1.5, 2.5) == 1.0


def test_spec_metrics_have_unit_direction_and_bound():
    for m in SPEC["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    for m in SPEC["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    for m in SPEC["end_to_end"] + SPEC["per_layer"]:
        assert m["better"] in ("higher", "lower")
    names = [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
    assert len(names) == len(set(names))
    assert {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25} in SPEC["end_to_end"]


def _smoke(workload: str, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", str(trace), "--small"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1, p.stderr[-3000:]
    expected = SPEC["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in out["metrics"].items()} == {m["name"]: m["unit"] for m in expected}
    return out["metrics"]


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke_run_reports_every_end_to_end_metric(workload):
    metrics = _smoke(workload, 0)
    assert all(v["value"] > 0 for v in metrics.values())


def test_traced_archive_run_accounts_for_all_of_archiver_run():
    m = {k: v["value"] for k, v in _smoke("archive_cycle", 1).items()}
    parts = m["archive.self_s"] + m["archive.rewrite_s"] + sum(
        m[f"sinks.{s}.write_s"] for s in ("CsvSink", "SqlDumpSink", "ParquetArchiveSink")
    )
    assert m["archive.run_s"] > 0 and parts == pytest.approx(m["archive.run_s"], rel=1e-9)
    assert m["sinks.bytes_written"] > 0 and m["spark.jobs"] > 0 and m["trace.overhead_ratio"] > 0


def test_run_fails_without_the_program(tmp_path):
    """In a directory holding only the benchmark, the run exits non-zero
    and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__", ".pytest_cache"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "analytics_mix", "--seed", "1", "--seconds", "1",
         "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180, env=env,
    )
    assert p.returncode != 0 and '"metrics"' not in p.stdout
