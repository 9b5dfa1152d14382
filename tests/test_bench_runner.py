"""bench.py's query runner: one timed loop that also returns a per-rep
layer record for every query and dumps rep-0 plans on request."""

from __future__ import annotations

import pytest

import bench


def test_run_returns_a_record_per_rep_and_writes_plans(spark, sf_small, tmp_path):
    names = ["retention_filter", "knn_ivf_indexed"]
    layers = bench.run(spark, names, sf_small, reps=2, plans_dir=str(tmp_path))
    assert list(layers) == names
    for name in names:
        assert len(layers[name]) == 2
        for rec in layers[name]:
            assert rec["wall_s"] > 0
            assert rec["jobs"] >= 1 and rec["stages"] >= 1
            assert rec["unattributed_jobs"] == 0, (name, rec)
            assert rec["record_s"] >= 0
            assert rec["codegen_compiles"] >= 0
        assert (tmp_path / f"{name}.txt").read_text().strip()
    assert sorted(p.name for p in tmp_path.iterdir()) == sorted(f"{n}.txt" for n in names)
    # rep 1 of a deterministic query reuses every class rep 0 compiled
    assert layers["retention_filter"][1]["codegen_compiles"] == 0, layers["retention_filter"]


def test_unknown_name_raises_before_any_spark_job(spark, sf_small):
    """Job ids are sequential: the probe jobs before and after the
    failed call are adjacent only if the call started no job (the known
    name listed first would have run otherwise)."""
    sc = spark.sparkContext

    def probe_jobs(group: str) -> list[int]:
        sc.setJobGroup(group, group, False)
        spark.range(1).count()
        return sorted(sc.statusTracker().getJobIdsForGroup(group))

    before = probe_jobs("bench-runner-before")
    with pytest.raises(ValueError, match="no_such_query"):
        bench.run(spark, ["retention_filter", "no_such_query"], sf_small)
    assert probe_jobs("bench-runner-after")[0] == before[-1] + 1
