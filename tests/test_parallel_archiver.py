"""FK generations, and the pipelined archiver (the next table archives
while this one's delete runs) giving the same per-table results as
running each table alone."""

from __future__ import annotations

from dataclasses import replace
from datetime import datetime

from osarchiver_spark.operators.archive import Archiver
from osarchiver_spark.plans.jobspec import ArchiveJobSpec, TableSpec
from osarchiver_spark.plans.toposort import table_generations
from osarchiver_spark.sources.parquet import load_table


def test_generations_group_independent_tables():
    t = [
        TableSpec("orders", "ok", "d"),
        TableSpec("lineitem", "lk", "d", foreign_keys={"lo": ("orders", "ok")}),
        TableSpec("events", "ek", "d"),
        TableSpec("nation", "nk", "d", foreign_keys={"nr": ("region", "rk")}),
        TableSpec("region", "rk", "d"),
    ]
    gens = [[s.name for s in g] for g in table_generations(t)]
    # children + independents first, parents after
    assert gens[0] == ["lineitem", "events", "nation"]
    assert gens[1] == ["orders", "region"]


def test_pipelined_run_matches_single_table_runs(spark, sf_small):
    tables = {
        "orders": load_table(spark, sf_small, "orders"),
        "lineitem": load_table(spark, sf_small, "lineitem"),
        "events": load_table(spark, sf_small, "events"),
    }
    spec = ArchiveJobSpec(
        tables=[
            TableSpec("orders", "o_orderkey", "o_orderdate"),
            TableSpec(
                "lineitem",
                "l_orderkey",
                "l_shipdate",
                foreign_keys={"l_orderkey": ("orders", "o_orderkey")},
            ),
            TableSpec("events", "event_id", "ts"),
        ],
        retention_months=36,
        now=datetime(2001, 12, 1),
    )
    piped = {r.table: (r.archived_rows, r.remaining_rows) for r in Archiver(spec, []).run(tables)}
    alone = {}
    for t in spec.tables:
        one = replace(spec, tables=[t])
        (r,) = Archiver(one, []).run({t.name: tables[t.name]})
        alone[r.table] = (r.archived_rows, r.remaining_rows)
    assert piped == alone
    assert set(piped) == {"orders", "lineitem", "events"}
    assert piped["lineitem"][0] > 0 and piped["orders"][0] > 0
