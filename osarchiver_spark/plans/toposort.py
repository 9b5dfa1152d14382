"""FK-aware table ordering (children before parents).

Mirrors the semantics of the reference's ``sort_tables``
(osarchiver/source/db.py:187-214, SURVEY O4): a child row must be
archived+deleted before its parent so the source never holds orphan
references mid-run. This is driver-level plan ordering (a few dozen
table names), not a data operation — plain Python is correct here.

Circular FK groups can't be ordered; like the reference's escape
hatch (source/db.py:354-357) they're appended at the end and reported
so the caller can disable strict ordering for them.
"""

from __future__ import annotations

from graphlib import CycleError, TopologicalSorter

from osarchiver_spark.plans.jobspec import TableSpec


def table_generations(tables: list[TableSpec]) -> list[list[TableSpec]]:
    """Children-first topological GENERATIONS over declared FK edges:
    every table in generation g only has parents in generations > g,
    so all tables within one generation are mutually independent.

    Deterministic: within a generation, input order is kept. Circular
    FK groups can't be ordered; like the reference's escape hatch
    (source/db.py:354-357) the whole list degrades to one sequential
    generation each.
    """
    by_name = {t.name: t for t in tables}
    index = {t.name: i for i, t in enumerate(tables)}
    ts: TopologicalSorter[str] = TopologicalSorter()
    for t in tables:
        parents = [p for (p, _c) in t.foreign_keys.values() if p in by_name and p != t.name]
        # parent depends on child: child is a predecessor of parent
        ts.add(t.name)
        for p in parents:
            ts.add(p, t.name)
    try:
        ts.prepare()
    except CycleError:
        # Circular FKs: fall back to input order, fully sequential.
        return [[t] for t in tables]
    gens: list[list[TableSpec]] = []
    while ts.is_active():
        ready = sorted(ts.get_ready(), key=lambda n: index[n])
        gens.append([by_name[n] for n in ready])
        for n in ready:
            ts.done(n)
    return gens


def sort_tables(tables: list[TableSpec]) -> list[TableSpec]:
    """Children-first topological order (flattened generations)."""
    return [t for gen in table_generations(tables) for t in gen]
