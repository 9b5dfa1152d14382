"""session.concurrently: the one driver-thread overlap. Side calls
inherit the caller's job group, so their jobs are attributed to the
caller and one cancelJobGroup reaches them. And get_spark's codegen
cache holds a repeated plan set."""

from __future__ import annotations

import ast
import re
import subprocess
import sys
import threading
import time
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from osarchiver_spark import session
from osarchiver_spark.session import concurrently


def test_thread_pools_live_in_session_only():
    """No package module but session.py starts driver threads of its
    own: every overlap goes through concurrently, which wraps each
    side call in the caller's job group."""
    pattern = re.compile(r"ThreadPoolExecutor|inheritable_thread_target")
    home = Path(session.__file__)
    assert pattern.search(home.read_text())  # the scan sees the helper
    offenders = [
        f"{path.relative_to(home.parent)}:{n}: {line.strip()}"
        for path in sorted(home.parent.rglob("*.py"))
        if path != home
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if pattern.search(line)
    ]
    assert not offenders, offenders


def test_results_in_argument_order_head_on_callers_thread(spark):
    caller = threading.get_ident()
    threads = {}

    def call(i, delay):
        def run():
            time.sleep(delay)
            threads[i] = threading.get_ident()
            return i * 10

        return run

    # the later arguments finish first; the results still follow the arguments
    assert concurrently(spark, call(0, 0.3), call(1, 0.2), call(2, 0.0)) == [0, 10, 20]
    assert threads[0] == caller
    assert caller not in (threads[1], threads[2]) and threads[1] != threads[2]
    assert concurrently(spark, call(3, 0.0)) == [30]
    assert threads[3] == caller


def test_every_call_finishes_before_the_first_exception(spark):
    finished = []

    def fail(msg, delay):
        def run():
            time.sleep(delay)
            finished.append(msg)
            raise RuntimeError(msg)

        return run

    def slow():
        time.sleep(0.5)
        finished.append("slow")

    # the second argument fails after the third: argument order decides
    with pytest.raises(RuntimeError, match="^second$"):
        concurrently(spark, slow, fail("second", 0.2), fail("third", 0.0))
    assert sorted(finished) == ["second", "slow", "third"]

    finished.clear()
    with pytest.raises(RuntimeError, match="^head$"):  # the caller's own call fails first
        concurrently(spark, fail("head", 0.0), slow)
    assert sorted(finished) == ["head", "slow"]


def test_side_call_jobs_land_in_callers_job_group(spark):
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    bus = sc._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    ungrouped_before = set(tracker.getJobIdsForGroup(None))
    group = "test-session-concurrently-group"
    sc.setJobGroup(group, group, False)
    try:
        counts = concurrently(spark, *[lambda n=n: spark.range(n).count() for n in (10, 20, 30)])
    finally:
        sc._jsc.clearJobGroup()
    bus.waitUntilEmpty()
    assert counts == [10, 20, 30]
    assert len(tracker.getJobIdsForGroup(group)) >= 3
    assert not set(tracker.getJobIdsForGroup(None)) - ungrouped_before


def test_cancel_job_group_stops_a_side_call(spark):
    """One cancelJobGroup on the caller's group stops a slow UDF job
    running on a side thread; both calls end promptly and no job of
    the group stays active."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    bus = sc._jsc.sc().listenerBus()
    group = "test-session-concurrently-cancel"
    started, cancelled = threading.Event(), threading.Event()

    @F.udf("long")
    def slow(k):
        import time

        time.sleep(0.5)
        return k

    def head():  # the caller's own call spans the cancel
        spark.range(5).count()
        assert cancelled.wait(60)
        return "head"

    def side():  # ~100 s uncancelled
        started.set()
        spark.range(200).coalesce(1).select(slow("id")).write.format("noop").mode("overwrite").save()

    box = []

    def work():
        sc.setJobGroup(group, group, interruptOnCancel=True)
        try:
            box.append(concurrently(spark, head, side))
        except Exception as exc:  # noqa: BLE001
            box.append(exc)
        finally:
            sc._jsc.clearJobGroup()

    def active_in_group():
        return set(tracker.getActiveJobsIds()) & set(tracker.getJobIdsForGroup(group))

    bus.waitUntilEmpty()
    ungrouped_before = set(tracker.getJobIdsForGroup(None))
    worker = threading.Thread(target=work)
    worker.start()
    try:
        assert started.wait(60)
        slow_jobs: set = set()
        deadline = time.monotonic() + 60
        while not slow_jobs and time.monotonic() < deadline:  # a job still active 2 s later is the slow one
            seen = active_in_group()
            time.sleep(2)
            slow_jobs = seen & active_in_group()
        assert slow_jobs
    finally:
        t0 = time.monotonic()
        sc.cancelJobGroup(group)
        cancelled.set()
        worker.join(timeout=60)
    assert not worker.is_alive()
    assert time.monotonic() - t0 < 20
    assert len(box) == 1 and isinstance(box[0], Exception)  # the side call's cancelled job
    bus.waitUntilEmpty()
    assert not active_in_group()
    assert not set(tracker.getJobIdsForGroup(None)) - ungrouped_before



_TWO_PASSES = """
import sys
from osarchiver_spark.queries import all_queries
from osarchiver_spark.session import get_spark

spark = get_spark("codegen-cache-test")
registry = all_queries()
compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
counts = []
for _ in range(2):
    before = compiles.getCount()
    for name in sys.argv[2].split(","):
        registry[name](spark, sys.argv[1]).write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()
    counts.append(compiles.getCount() - before)
print(counts)
spark.stop()
"""


def test_a_repeated_plan_set_compiles_no_class(sf_small):
    """get_spark sizes Spark's JVM-wide codegen cache to the engine's
    plan working set: a second pass over a fixed list of deterministic
    queries compiles nothing. The list needs ~140 classes, more than
    Spark's default cache of 100 holds, so at the default the second
    pass compiles ~110 again. It runs in a fresh JVM: the counter is
    JVM-wide, and the shared test session's cache already holds (and
    evicts) the classes of every earlier test."""
    names = [
        "q1_pricing_summary",
        "q5_local_supplier",
        "q21_waiting_supplier",
        "percentiles",
        "sessionize",
        "asof_join",
        "dedup_minhash_lsh",
        "knn_bruteforce",
    ]
    repo = Path(session.__file__).parent.parent
    out = subprocess.run(
        [sys.executable, "-c", _TWO_PASSES, sf_small, ",".join(names)],
        cwd=repo, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    first, second = ast.literal_eval(out.stdout.strip().splitlines()[-1])
    assert first > 100 and second == 0, (first, second)
