"""Cross-run incremental archival watermarks.

The reference resumes WITHIN a run via keyset state
(``last_selected_id``, osarchiver/source/db.py:259); ACROSS runs it
simply re-issues the retention query, which MySQL answers via the
deleted_at index. The Spark engine is idempotent across runs
(re-archiving is a no-op append), but without state each run re-SCANS
the full history. A per-table watermark — the previous run's cutoff —
closes that gap: run N+1 archives only rows with

    watermark < deleted_col <= cutoff

and both bounds reach the parquet scan as pushed filters, so
row-group pruning skips every already-archived month. At 100 TB this
is the difference between scanning a week of new tombstones and
scanning ten years of history every night.

State is one tiny JSON file (table -> ISO timestamp), written
atomically (tmp + rename). The watermark only advances after the
table's run fully succeeded — a failed sink leaves it untouched, so
the next run re-covers the same window and idempotent sinks absorb
the overlap. This mirrors the reference's no-data-loss ordering
(archiver.py:96-103) at the granularity of runs instead of batches.
"""

from __future__ import annotations

import contextlib
import json
import os
import tempfile
import threading
from datetime import datetime


class WatermarkStore:
    """Per-table high-watermark persistence (JSON file).

    ``advance`` is a read-modify-write of the whole file, serialized on
    a per-store lock (two advances at once must not drop each other's
    entry); ``get`` may run on the Archiver's lookahead thread beside
    the caller's delete, and sees either file version (tmp+rename)."""

    def __init__(self, path: str):
        self.path = path
        self._lock = threading.Lock()

    def _load(self) -> dict[str, str]:
        try:
            with open(self.path, encoding="utf-8") as f:
                data = json.load(f)
        except (OSError, ValueError):
            return {}
        return data if isinstance(data, dict) else {}

    def get(self, table: str) -> datetime | None:
        raw = self._load().get(table)
        return datetime.fromisoformat(raw) if raw else None

    def advance(self, table: str, cutoff: datetime) -> None:
        """Monotonic per-table advance, atomic on POSIX (tmp+rename)."""
        with self._lock:
            self._advance_locked(table, cutoff)

    def _advance_locked(self, table: str, cutoff: datetime) -> None:
        data = self._load()
        prev = data.get(table)
        if prev and datetime.fromisoformat(prev) >= cutoff:
            return
        data[table] = cutoff.isoformat()
        d = os.path.dirname(os.path.abspath(self.path)) or "."
        os.makedirs(d, exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=d, suffix=".wm")
        try:
            with os.fdopen(fd, "w", encoding="utf-8") as f:
                json.dump(data, f, indent=0, sort_keys=True)
            os.replace(tmp, self.path)
        except BaseException:
            with contextlib.suppress(OSError):
                os.unlink(tmp)
            raise
