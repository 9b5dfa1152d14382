"""The archival pipeline: read → multi-sink write → source rewrite.

Spark re-expression of the reference run loop (osarchiver/archiver.py:
82-106): per table, in FK-topological order (children first), the
retention predicate selects archivable rows, every destination writes
them, and ONLY if all destinations succeeded is the "delete"
performed — here a source rewrite keeping the anti-join complement.
Every sink is attempted; any failure leaves that table's source and
watermark untouched (the no-data-loss invariant, archiver.py:96-103 /
errors.py:24-29).

Dry-run (reference X1, common/db.py:287-303: execute+rollback) is
plan-only: count what would be archived, write nothing.

Scale design notes (both overlaps are ``session.concurrently``, so
every job carries the caller's job group):
- one cached set, consumed concurrently: the archived count, every
  sink write and the remaining-count run at once on driver threads
  (a not-yet-built cached block is computed once, shared through the
  block manager's per-block locks); the delete waits on every sink;
- the source rewrite uses the *negated predicate*, not an anti-join,
  when the archived set came from this run's own filter — a pure
  second pushdown scan, no shuffle at all; the anti-join path exists
  for externally-supplied archived sets;
- tables are pipelined, deletes are not: table k+1's archive phase
  runs on a side thread while table k's delete (rewrite, then
  watermark advance) runs on the caller's thread, one delete at a
  time in FK order. If a delete raises, the run re-raises once the
  lookahead has drained: sinks may already hold the next table's rows
  (they are idempotent), and nothing is deleted.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from datetime import datetime
from functools import partial

from pyspark.sql import DataFrame, SparkSession

from osarchiver_spark.operators.retention import (
    frozen_now,
    remaining_after_archive,
    retention_cutoff,
    retention_filter,
    retention_predicate,
)
from osarchiver_spark.plans.jobspec import ArchiveJobSpec, TableSpec
from osarchiver_spark.plans.toposort import sort_tables
from osarchiver_spark.session import concurrently
from osarchiver_spark.sinks.base import Sink


class ArchivingFailed(Exception):
    """A destination failed; the delete step is suppressed for the
    table (reference OSArchiverArchivingFailed, errors.py:24-29)."""


@dataclass
class TableRunResult:
    table: str
    archived_rows: int
    remaining_rows: int | None
    dry_run: bool
    # set when this table's archiving failed: the delete was
    # suppressed and the run continued with the other tables
    # (reference archiver.py:97-103)
    error: str | None = None


@dataclass
class Archiver:
    """One source (dict of DataFrames) + N destinations."""

    spec: ArchiveJobSpec
    sinks: list[Sink] = field(default_factory=list)
    # receives (table, remaining_df); persists the rewritten source.
    source_rewriter: object | None = None
    # cross-run incremental state (plans/watermark.py): when set, each
    # table archives only (last watermark, cutoff] — both bounds reach
    # the parquet scan as pushed filters — and the watermark advances
    # to the cutoff ONLY after the table's run fully succeeds.
    watermarks: object | None = None

    def run(self, dataframes: dict[str, DataFrame]) -> list[TableRunResult]:
        if not self.spec.archive_data and not self.spec.delete_data:
            # Reference short-circuit (archiver.py:87-90).
            return []
        tables = sort_tables(self.spec.eligible_tables())
        missing = [t.name for t in tables if t.name not in dataframes]
        if missing:  # before any sink call or Spark job
            raise ValueError(f"no DataFrame for eligible table(s): {', '.join(missing)}")
        now = self.spec.now or frozen_now()
        cutoff = retention_cutoff(now, self.spec.retention_months)
        for sink in self.sinks:
            sink.begin_run(now)  # dated per-run namespace for file sinks

        def archive(t: TableSpec):
            return self._archive(t, dataframes[t.name], cutoff)

        def delete(t: TableSpec, staged: tuple[TableRunResult, DataFrame | None]) -> TableRunResult:
            result, remaining = staged
            if result.error is None and not result.dry_run:
                if remaining is not None and self.source_rewriter is not None:
                    self.source_rewriter(t.name, remaining)  # type: ignore[operator]
                if self.watermarks is not None:
                    self.watermarks.advance(t.name, cutoff)  # type: ignore[attr-defined]
            return result

        if not tables:
            return []
        results: list[TableRunResult] = []
        staged = archive(tables[0])
        for tspec, nxt in zip(tables, tables[1:]):  # the next table's archive phase overlaps this delete
            spark = dataframes[nxt.name].sparkSession
            result, staged = concurrently(spark, partial(delete, tspec, staged), partial(archive, nxt))
            results.append(result)
        return results + [delete(tables[-1], staged)]

    def _archive(
        self, tspec: TableSpec, df: DataFrame, cutoff: datetime
    ) -> tuple[TableRunResult, DataFrame | None]:
        """One table's archive phase; returns its result and the
        complement to rewrite (None when nothing is to be rewritten)."""
        assert tspec.deleted_column is not None
        pred = retention_predicate(tspec.deleted_column, cutoff)
        if self.watermarks is not None:
            wm = self.watermarks.get(tspec.name)  # type: ignore[attr-defined]
            if wm is not None:
                # lower bound joins the pushdown: row groups below the
                # previous run's cutoff are pruned at the scan
                pred = pred & (df[tspec.deleted_column] > wm)
        archived = df.filter(pred)
        if self.spec.dry_run:
            # Plan-only: report would-be effects, touch nothing.
            return TableRunResult(tspec.name, archived.count(), None, dry_run=True), None
        sinks = self.sinks if self.spec.archive_data else []
        if sinks:
            archived = archived.cache()  # one scan feeds N sinks
        # negated-predicate complement: no join/shuffle (module docstring)
        remaining = df.filter(~pred | df[tspec.deleted_column].isNull()) if self.spec.delete_data else None

        def attempt(fn, *args):  # the exception is the outcome: every sink is attempted
            try:
                return fn(*args)
            except Exception as exc:  # noqa: BLE001
                return exc

        legs = [partial(attempt, sink.write, tspec.name, archived) for sink in sinks]
        if remaining is not None:
            legs.append(partial(attempt, remaining.count))
        try:  # both counts land BEFORE the rewriter touches the source
            n_archived, *outcomes = concurrently(df.sparkSession, archived.count, *legs)
        finally:
            if sinks:
                archived.unpersist()  # every leg has drained
        failed = [(s, exc) for s, exc in zip(sinks, outcomes) if isinstance(exc, Exception)]
        if failed:
            # Suppress this table's delete, keep the run going: other
            # sinks' and tables' completed work stands (archiver.py:97-103).
            sink, exc = failed[0]
            error = f"sink {type(sink).__name__} failed for {tspec.name}: {exc}"
            return TableRunResult(tspec.name, n_archived, None, dry_run=False, error=error), None
        n_remaining = outcomes[-1] if remaining is not None else None
        if isinstance(n_remaining, Exception):
            raise n_remaining
        return TableRunResult(tspec.name, n_archived, n_remaining, dry_run=False), remaining


def archive_and_remaining(
    spark: SparkSession,
    df: DataFrame,
    deleted_column: str,
    primary_key: str,
    now: datetime,
    retention_months: int,
) -> tuple[DataFrame, DataFrame]:
    """Pure two-DataFrame form of one table's run, for query-level
    verification: (archived, remaining) with remaining computed by the
    general anti-join contract."""
    cutoff = retention_cutoff(now, retention_months)
    archived = retention_filter(df, deleted_column, cutoff)
    remaining = remaining_after_archive(df, archived, primary_key)
    return archived, remaining
