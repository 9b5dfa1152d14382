"""Local mirror of the driver's per-round adjudication.

Runs registry queries against their DuckDB oracles BIT-EXACT at the
driver's scale (sf0.01), in the same least-recently-verified order the
driver samples, via tests/oracle_harness.compare_query — the harness
whose zero-tolerance canonicalization exists precisely because two r04
queries passed a 1e-9-tolerant local sweep and then hash-failed
adjudication.

Usage:
    python tools/driver_window_sim.py            # first 50 (the window)
    python tools/driver_window_sim.py --all      # every registry entry
    python tools/driver_window_sim.py --all SF_DIR
    python tools/driver_window_sim.py --all SF_DIR --log L.jsonl --timeout 300
    python tools/driver_window_sim.py --only q1_pricing_summary,psi_drift

``--log FILE`` appends one JSON line per query ({name, status, secs})
and on startup SKIPS names already recorded OK in FILE, so an
interrupted full-registry sweep (the r07 sf1 sweep lost its 38-entry
tail to one 20-minute query) resumes from the cut instead of
restarting.  ``--timeout SECS`` caps each query's wall clock: the
compare runs in a worker thread under a per-query Spark job group that
is cancelled on expiry, with every job it starts later (skip-and-record
beats stall; a timed-out entry is recorded as ``timeout``, not a value
mismatch, with ``active_jobs``: the jobs of its group still running
once the cancel has unwound).

Exit 0 iff every compared query matches, 2 on a bad command line
(before any Spark session starts). Queries without an oracle
(rows-only at the driver) are reported and skipped.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))


def _parse_args(argv: list[str] | None) -> argparse.Namespace:
    parser = argparse.ArgumentParser(
        description="Compare registry queries against their DuckDB oracles, bit-exact."
    )
    parser.add_argument("sf_dir", nargs="?", metavar="SF_DIR", help="fixture directory (default: sf0.01)")
    parser.add_argument("--all", action="store_true", help="every registry entry, not the first 50")
    parser.add_argument("--only", metavar="NAMES", help="comma-separated registry names")
    parser.add_argument("--log", metavar="FILE", help="append one JSON line per query; resume from it")
    parser.add_argument("--timeout", type=float, metavar="SECS", help="cancel a query after SECS")
    return parser.parse_args(argv)


def _done_names(log_path: str) -> dict[str, str]:
    """name -> last recorded status, for every name with ANY recorded
    outcome: a timeout/fail was handled and re-running it under the
    same budget would just repeat it (a timed-out DuckDB oracle can
    even survive interrupt() as a zombie and starve the rest of the
    sweep — observed r08: the entry AFTER a multiprobe timeout
    spuriously timed out too). Delete a line from the log to re-queue
    that entry. Recorded fail/timeout statuses still count against
    the final summary and exit code on resume."""
    done: dict[str, str] = {}
    if log_path and os.path.exists(log_path):
        with open(log_path) as fh:
            for line in fh:
                try:
                    row = json.loads(line)
                except ValueError:
                    continue
                if row.get("status"):
                    done[row["name"]] = row["status"]
    return done


def main(argv: list[str] | None = None) -> int:
    opts = _parse_args(argv)
    log_path, only, timeout_s = opts.log, opts.only, opts.timeout or None
    args = [opts.sf_dir] if opts.sf_dir else []
    sf_dir = args[0] if args else "/root/testdata/sf0.01"

    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "entry", os.path.join(REPO, "__spark_entry__.py")
    )
    entry = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(entry)

    from oracle_harness import compare_query

    from osarchiver_spark.session import get_spark

    qs, oracles = entry.queries(), entry.oracle_sql()
    if only:
        wanted = [n.strip() for n in only.split(",") if n.strip()]
        missing = [n for n in wanted if n not in qs]
        if missing:
            print(f"--only names not in registry: {missing}")
            return 2
        names = wanted
    else:
        names = list(qs) if opts.all else list(qs)[:50]
    done = _done_names(log_path) if log_path else {}
    if done:
        print(f"resume: skipping {len(done)} names already recorded in {log_path}")
    spark = get_spark("driver-window-sim")
    sc = spark.sparkContext
    fails: list[str] = []
    t0 = time.time()

    def record(name: str, status: str, secs: float, extra: dict | None = None) -> None:
        if not log_path:
            return
        with open(log_path, "a") as fh:
            row = {"name": name, "status": status, "secs": round(secs, 1), **(extra or {})}
            fh.write(json.dumps(row) + "\n")

    for i, name in enumerate(names, 1):
        if name in done:
            continue
        if name not in oracles:
            print(f"{i:3d} {name}: no oracle (rows-only at driver) — skipped")
            record(name, "no-oracle", 0.0)
            continue
        t = time.time()
        outcome: dict[str, str] = {}
        live_con: list = []

        def run(name=name) -> None:
            # Job group is thread-local in Spark: set it in the worker so
            # a timeout can cancel exactly this query's jobs.
            sc.setJobGroup(name, name, interruptOnCancel=True)
            try:
                compare_query(
                    spark, name, qs[name], oracles[name], sf_dir, exact=True,
                    on_connection=live_con.append,
                )
                outcome["status"] = "ok"
            except Exception as exc:  # report every failure, keep sweeping
                # DuckDB raises INTERRUPT on con.interrupt(); a cancelled
                # Spark job group raises SparkException mentioning
                # "cancelled" — both are the timeout path, not a value
                # mismatch
                msg = str(exc).upper()
                if "INTERRUPT" in msg or "CANCEL" in msg:
                    outcome.setdefault("status", "timeout")
                else:
                    outcome["status"] = "fail"
                    outcome["err"] = str(exc)[:300]

        if timeout_s is None:
            run()
        else:
            worker = threading.Thread(target=run, daemon=True)
            worker.start()
            worker.join(timeout_s)
            if worker.is_alive():
                # stops the Spark half: the running jobs, and those the
                # chain would start after the cancel (a cancel between
                # two jobs would otherwise miss every later one)
                sc._jsc.sc().cancelJobGroupAndFutureJobs(name)
                for con in live_con:  # stops the DuckDB half (zombie cores)
                    try:
                        con.interrupt()
                    except Exception:
                        pass
                worker.join(30)  # grace for the cancels to unwind
                outcome.setdefault("status", "timeout")
                if worker.is_alive():
                    print(f"{i:3d} {name}: TIMEOUT (worker still unwinding)")
                sc._jsc.sc().listenerBus().waitUntilEmpty()
                tracker = sc.statusTracker()
                active = set(tracker.getActiveJobsIds()) & set(tracker.getJobIdsForGroup(name))
                outcome["active_jobs"] = len(active)
        secs = time.time() - t
        status = outcome.get("status", "timeout")
        if status == "ok":
            print(f"{i:3d} {name}: OK ({secs:.1f}s)", flush=True)
        elif status == "timeout":
            fails.append(name)
            print(
                f"{i:3d} {name}: TIMEOUT after {secs:.0f}s — cancelled, "
                f"{outcome.get('active_jobs', 0)} jobs still active",
                flush=True,
            )
        else:
            fails.append(name)
            print(f"{i:3d} {name}: FAIL {outcome.get('err', '')}", flush=True)
        record(name, status, secs, {k: v for k, v in outcome.items() if k != "status"})
    # recorded-but-skipped reds from a resumed log count too: the exit
    # code judges the LOG's final state, not just this invocation's
    logged_red = sorted(
        n for n, s in done.items()
        if n in names and s in ("fail", "timeout") and n not in fails
    )
    fails.extend(logged_red)
    print(f"\nTOTAL {len(names)} in {time.time() - t0:.0f}s; fails={fails}")
    spark.stop()
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
