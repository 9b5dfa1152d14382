"""The benchmark workloads and their output checks.

Each workload is a closed loop with one client: ops run one at a time,
the next starting when the previous one returns. A run is

1. set-up, ``SETUPS`` times (fresh Spark session, load the inputs; for
   archive_cycle also a dry run); ``setup_s`` is the median;
2. one untimed pass that warms every op and checks its output;
3. the timed region: ``MIN_PASSES`` whole passes, and more while
   ``seconds`` have not elapsed. Passes are long enough that the
   minimum decides, so every run measures the same ops however fast
   the host is; a cut at a time limit would make the op mix, and with
   it the medians, depend on the host's speed.

With tracing on, ops alternate untraced/traced, the pattern flipping
from one pass to the next, so each op of a query pass is traced once
in two passes; per-layer numbers come from the traced ops, and the
ratio of traced to untraced op walls is the tracing overhead.
"""

from __future__ import annotations

import gc
import os
import random
import statistics
import time
from dataclasses import dataclass, field
from datetime import timedelta

import gen
from probe import ProcTree, RssSampler, SparkObserver, Tracer, union_length

ANALYTICS_OPS = [
    "q1_pricing_summary",
    "q5_local_supplier",
    "q21_waiting_supplier",
    "percentiles",
    "sessionize",
    "asof_join",
    "funnel_analysis",
    "retention_remaining",
    "tfidf_top_terms",
    "dedup_minhash_lsh",
    # the persisted-index ANN chain (build, publish, probe; side-thread
    # jobs) and its exact baseline, for recall
    "knn_bruteforce",
    "knn_ivf_indexed",
]
ANN_OPS = ["knn_ivf_indexed"]

# full-size inputs; ``small=True`` (the smoke tests) shrinks them
SIZES = {
    "analytics_mix": {"scale": 0.01, "n_vectors": 1000},
    "archive_cycle": {"n_instances": 100_000},
}
SMALL_SIZES = {
    "analytics_mix": {"scale": 0.001, "n_vectors": 500},
    "archive_cycle": {"n_instances": 5_000},
}
SETUPS = 3
MIN_PASSES = 2
CYCLES_PER_PASS = 3


@dataclass
class Sample:
    name: str
    wall: float
    cpu: float
    worker_cpu: float
    ok: bool
    traced: bool
    layers: dict = field(default_factory=dict)


@dataclass
class Ctx:
    workload: str
    seed: int
    seconds: float
    trace: bool
    work: str
    small: bool = False
    spark: object = None
    tracer: Tracer = None
    observer: SparkObserver = None
    tree: ProcTree = field(default_factory=ProcTree)
    setup_s: list = field(default_factory=list)
    get_spark_s: list = field(default_factory=list)
    checks: int = 0
    check_failures: list = field(default_factory=list)
    op_errors: list = field(default_factory=list)
    recall: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)

    def size(self) -> dict:
        return (SMALL_SIZES if self.small else SIZES)[self.workload]

    def fresh_session(self):
        from osarchiver_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = get_spark(f"perfbench-{self.workload}")
        self.get_spark_s.append(time.perf_counter() - t0)
        return self.spark

    def check(self, what: str, fn) -> None:
        """Run one output check; a failure is recorded, not raised."""
        self.checks += 1
        self.spark.sparkContext.setJobGroup("perfbench-check", what, False)
        try:
            fn()
        except Exception as exc:  # noqa: BLE001 - a failed check is a result
            self.check_failures.append(f"{what}: {type(exc).__name__}: {str(exc)[:300]}")


def _release(spark) -> None:
    # what bench.py does between queries: drop caches and the Python
    # references that keep transient blocks alive
    spark.catalog.clearCache()
    gc.collect()


def timed_op(ctx: Ctx, name: str, body, traced: bool, group: str) -> Sample:
    """Run ``body()`` as one op: job group set, wall/CPU taken around
    it, Spark records read after it (outside its wall)."""
    ctx.observer.begin(group)
    cpu0, w0 = ctx.tree.cpu()
    ok = True
    outer, ctx.tracer.enabled = ctx.tracer.enabled, traced
    t0 = time.perf_counter()
    with ctx.tracer.span("op", op=group, op_name=name) as span:
        try:
            body()
        except Exception as exc:  # noqa: BLE001 - a failed op is a result
            ok = False
            ctx.op_errors.append(f"{name}: {type(exc).__name__}: {str(exc)[:300]}")
    wall = time.perf_counter() - t0
    ctx.tracer.enabled = outer
    cpu1, w1 = ctx.tree.cpu()
    sample = Sample(name, wall, cpu1 - cpu0, w1 - w0, ok, traced)
    if traced:
        rec = ctx.observer.record(group)
        ctx.tracer.add_spark(span, rec)
        stage_iv = [(s, e) for _, _, s, e in rec["stage_spans"] if e is not None]
        rec["driver_only_s"] = wall - union_length(stage_iv, span["start"], span["end"])
        sample.layers = {k: v for k, v in rec.items() if not k.endswith("_spans")}
    return sample


def timed_region(ctx: Ctx, one_pass) -> tuple[list[Sample], float, float]:
    """``MIN_PASSES`` whole passes, then more until ``seconds`` elapse.
    Returns the samples, the wall of the passes and the median tree
    RSS."""
    samples: list[Sample] = []
    passes = 0
    t0 = time.perf_counter()
    with RssSampler(ctx.tree) as rss:
        while passes < MIN_PASSES or time.perf_counter() - t0 < ctx.seconds:
            ctx.tracer.enabled = ctx.trace
            with ctx.tracer.span("pass", op=f"pass{passes}"):
                samples.extend(one_pass(passes))
            ctx.tracer.enabled = False
            passes += 1
    return samples, time.perf_counter() - t0, rss.median_mb()


# --- query workloads ------------------------------------------------------


def _query_fns(names: list[str]) -> tuple[dict, dict, dict]:
    """(production fn, registered fn, oracle) per op; an unknown name or
    a missing oracle fails here, before any warm-up."""
    import bench
    from osarchiver_spark.queries import all_oracles, all_queries

    registry, oracles = all_queries(), all_oracles()
    unknown = [n for n in names if n not in registry or n not in oracles]
    if unknown:
        raise SystemExit(f"unknown op or op without oracle: {unknown}")
    prod = {n: bench.BENCH_OVERRIDES.get(n, registry[n]) for n in names}
    return prod, {n: registry[n] for n in names}, {n: oracles[n] for n in names}


def _check_pass(ctx: Ctx, order, prod, registered, oracles, fixture) -> None:
    """Warm every op once and check its output, outside the timed
    region. Registered-form ops: bit-exact against their DuckDB oracle.
    ANN production forms: recall@5 against knn_bruteforce, and their
    registered forms against the oracle."""
    from tests.oracle_harness import compare_query

    spark = ctx.spark
    exact_topk = None
    if any(n in ANN_OPS for n in order):
        exact = registered["knn_bruteforce"](spark, fixture).collect()
        exact_topk = {(r["query_id"], r["neighbor_id"]) for r in exact}
    for name in order:
        if prod[name] is registered[name]:
            ctx.check(name, lambda n=name: compare_query(spark, n, prod[n], oracles[n], fixture))
            continue
        rows = prod[name](spark, fixture).collect()
        if name in ANN_OPS:
            got = {(r["query_id"], r["neighbor_id"]) for r in rows}
            ctx.recall[name] = len(got & exact_topk) / len(exact_topk)
        ctx.check(f"{name}[registered]", lambda n=name: compare_query(spark, n, registered[n], oracles[n], fixture))
        _release(spark)
    ann = [ctx.recall[n] for n in order if n in ctx.recall]
    if ann and min(ann) < 0.2:
        ctx.check_failures.append(f"ANN recall@5 collapsed: {ctx.recall}")


def run_queries(ctx: Ctx, names: list[str]) -> dict:
    from osarchiver_spark.sources.parquet import TABLES, load_table

    prod, registered, oracles = _query_fns(names)
    fixture = os.path.join(ctx.work, "fixture")
    size = ctx.size()
    gen.write_registry_fixture(fixture, ctx.seed, size["scale"], size["n_vectors"])
    order = list(names)
    random.Random(ctx.seed).shuffle(order)

    for _ in range(SETUPS):
        t0 = time.perf_counter()
        spark = ctx.fresh_session()
        for t in TABLES:
            load_table(spark, fixture, t)
        ctx.setup_s.append(time.perf_counter() - t0)
    ctx.observer = SparkObserver(spark)

    t0 = time.perf_counter()
    _check_pass(ctx, order, prod, registered, oracles, fixture)
    ctx.layers["setup.check_pass_s"] = time.perf_counter() - t0
    if ctx.trace:
        _calibrate_input_bytes(ctx, os.path.join(fixture, "lineitem.parquet"))

    n_op = [0]

    def one_pass(p: int) -> list[Sample]:
        out = []
        for i, name in enumerate(order):
            n_op[0] += 1
            traced = ctx.trace and (i + p) % 2 == 1

            def body(n=name):
                with ctx.tracer.span("plan"):
                    df = prod[n](spark, fixture)
                with ctx.tracer.span("exec"):
                    df.write.format("noop").mode("overwrite").save()

            out.append(timed_op(ctx, name, body, traced, f"perfbench-op-{n_op[0]}"))
            _release(spark)
        return out

    return _finish(ctx, *timed_region(ctx, one_pass))


def _calibrate_input_bytes(ctx: Ctx, path: str) -> None:
    """Spark's stage inputBytes on a full scan of a known file, as a
    share of its size on disk: shows whether spark.input_bytes can be
    relied on for this source."""
    ctx.observer.begin("perfbench-calibrate")
    ctx.spark.read.parquet(path).write.format("noop").mode("overwrite").save()
    rec = ctx.observer.record("perfbench-calibrate")
    ctx.layers["spark.input_bytes_coverage"] = rec["input_bytes"] / os.path.getsize(path)


# --- archive_cycle ----------------------------------------------------------


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


class TimedSink:
    """Wraps a real sink; times each write from outside."""

    def __init__(self, inner, tracer: Tracer, times: dict):
        self.inner, self.tracer, self.times = inner, tracer, times
        self.cls = type(inner).__name__

    def begin_run(self, now) -> None:
        self.inner.begin_run(now)

    def write(self, table: str, df) -> None:
        t0 = time.perf_counter()
        try:
            with self.tracer.span("sink.write", cls=self.cls, table=table):
                self.inner.write(table, df)
        finally:
            self.times[self.cls] = self.times.get(self.cls, 0.0) + time.perf_counter() - t0


class Rewriter:
    """The benchmark's source rewriter: each cycle's remaining rows
    become the next cycle's source, in a new version directory."""

    def __init__(self, base: str, tracer: Tracer, times: dict):
        self.base, self.tracer, self.times = base, tracer, times
        self.version = 0
        self.current: dict[str, str] = {}

    def next_dir(self) -> str:
        return os.path.join(self.base, f"v{self.version + 1}")

    def __call__(self, table: str, remaining) -> None:
        t0 = time.perf_counter()
        try:
            with self.tracer.span("rewrite", table=table):
                remaining.write.mode("overwrite").parquet(os.path.join(self.next_dir(), f"{table}.parquet"))
        finally:
            self.times["rewrite"] = self.times.get("rewrite", 0.0) + time.perf_counter() - t0
        self.current[table] = self.next_dir()


def run_archive(ctx: Ctx) -> dict:
    from pyspark.sql import functions as F

    from osarchiver_spark.operators.archive import Archiver
    from osarchiver_spark.operators.retention import Retention
    from osarchiver_spark.plans.jobspec import ArchiveJobSpec, TableSpec
    from osarchiver_spark.plans.naming import render_suffix
    from osarchiver_spark.plans.watermark import WatermarkStore
    from osarchiver_spark.sinks.base import CsvSink, ParquetArchiveSink, SqlDumpSink
    from osarchiver_spark.sources.parquet import load_table

    src = os.path.join(ctx.work, "src")
    counts = gen.write_archive_tables(os.path.join(src, "v0"), ctx.seed, ctx.size()["n_instances"])
    tables = [
        TableSpec("instance_metadata", "id", "deleted_at", {"instance_id": ("instances", "id")}),
        TableSpec("instances", "id", "deleted_at"),
    ]
    names = [t.name for t in tables]
    pks = {t: "id" for t in names}
    retention = Retention(30, "DAY")
    first_cutoff = gen.EPOCH - timedelta(days=gen.DELETE_SPAN_DAYS - 60)

    def now_of(cycle: int):
        return first_cutoff + timedelta(days=30 + 5 * cycle)

    def spec(cycle: int, dry_run: bool = False) -> ArchiveJobSpec:
        return ArchiveJobSpec(tables, retention_months=retention, now=now_of(cycle), dry_run=dry_run)

    v0 = os.path.join(src, "v0")
    for _ in range(SETUPS):
        t0 = time.perf_counter()
        spark = ctx.fresh_session()
        dfs = {t: load_table(spark, v0, t) for t in names}
        Archiver(spec(0, dry_run=True)).run(dfs)
        ctx.setup_s.append(time.perf_counter() - t0)
    ctx.observer = SparkObserver(spark)

    out = os.path.join(ctx.work, "out")
    times: dict[str, float] = {}
    archive_sink = ParquetArchiveSink(os.path.join(out, "archive"), pks, partition_column="deleted_at")
    inner = [CsvSink(os.path.join(out, "csv")), SqlDumpSink(os.path.join(out, "sql"), pks), archive_sink]
    sinks = [TimedSink(s, ctx.tracer, times) for s in inner]
    rewriter = Rewriter(src, ctx.tracer, times)
    rewriter.current = dict.fromkeys(names, v0)
    watermarks = WatermarkStore(os.path.join(ctx.work, "watermarks.json"))

    def digest(df, cutoff) -> tuple[int, int, int, int]:
        """(rows, distinct keys, key-hash sum, rows deleted at or before
        the cutoff), in one aggregation."""
        r = df.agg(
            F.count("*"),
            F.count_distinct("id"),
            F.sum(F.xxhash64("id").cast("decimal(38,0)")),
            F.count_if(F.col("deleted_at") <= F.lit(cutoff)),
        ).first()
        return r[0], r[1], int(r[2] or 0), r[3]

    base = {t: digest(load_table(ctx.spark, v0, t), gen.EPOCH)[:3] for t in names}
    state = {"rows": {t: counts[t] for t in names}, "archived": dict.fromkeys(names, 0)}

    history: list[tuple[int, dict]] = []  # (cycle, archived rows per table)

    def counts_ok(cycle: int, results) -> None:
        """archived + remaining = the table's rows before the cycle."""
        for r in results:
            if r.error:
                raise AssertionError(r.error)
            if r.archived_rows + r.remaining_rows != state["rows"][r.table]:
                raise AssertionError(f"{r.table}: {r.archived_rows} + {r.remaining_rows} != {state['rows'][r.table]}")
            state["rows"][r.table] = r.remaining_rows
            state["archived"][r.table] += r.archived_rows
        history.append((cycle, {r.table: r.archived_rows for r in results}))

    def verify(t: str) -> None:
        """For every cycle so far: the archive is unique on its key and,
        with the remaining rows, exactly the original row set; each
        cycle's slice of the archive (its deleted_at window) and each
        file sink's output for the cycle hold exactly the rows that
        cycle removed; no remaining row is past the last cutoff."""
        cutoffs = [now_of(c) - timedelta(days=30) for c, _ in history]
        n_rem, _, h_rem, late = digest(load_table(ctx.spark, rewriter.current[t], t), cutoffs[-1])
        arc = archive_sink.read(ctx.spark, t)
        n_arc, distinct, h_arc, _ = digest(arc, cutoffs[-1])
        if n_rem != state["rows"][t] or late:
            raise AssertionError(f"{t}: source has {n_rem} rows ({late} past cutoff), expected {state['rows'][t]}")
        if not (n_arc == distinct == state["archived"][t]):
            raise AssertionError(f"{t}: archive {n_arc} rows, {distinct} keys, expected {state['archived'][t]}")
        if (n_arc + n_rem, n_arc + n_rem, h_arc + h_rem) != base[t]:
            raise AssertionError(f"{t}: archive + remaining is not the original row set")
        expected = {c: rows[t] for c, rows in history}
        window = sum((F.col("deleted_at") > F.lit(c)).cast("int") for c in cutoffs)
        got = {history[r[0]][0]: r[1] for r in arc.groupBy(window).count().collect()}
        if {c: n for c, n in got.items() if n} != {c: n for c, n in expected.items() if n}:
            raise AssertionError(f"{t}: archive rows per cycle {got}, expected {expected}")
        run_dir = {render_suffix("{date}", now_of(c)): c for c, _ in history}
        for sink, leaf in ((inner[0], f"{t}.csv"), (inner[1], f"{t}.sql")):
            pattern = os.path.join(sink.root, "*", leaf)
            df = ctx.spark.read.option("header", True).csv(pattern) if leaf.endswith(".csv") else ctx.spark.read.text(pattern)
            d = F.regexp_extract(F.input_file_name(), r"/([^/]+)/" + leaf.replace(".", r"\.") + "/", 1)
            got = {run_dir[r[0]]: r[1] for r in df.groupBy(d).count().collect()}
            if {c: n for c, n in got.items() if n} != {c: n for c, n in expected.items() if n}:
                raise AssertionError(f"{t}: {type(sink).__name__} rows per cycle {got}, expected {expected}")

    def verify_all() -> None:
        for t in names:
            ctx.check(f"{t} after cycle {history[-1][0]}", lambda t=t: verify(t))

    def cycle_body(cycle: int, result_box: list):
        def body():
            archiver = Archiver(spec(cycle), sinks, source_rewriter=rewriter, watermarks=watermarks)
            with ctx.tracer.span("load"):
                t0 = time.perf_counter()
                dfs = {t: load_table(ctx.spark, rewriter.current[t], t) for t in names}
                times["load"] = times.get("load", 0.0) + time.perf_counter() - t0
            with ctx.tracer.span("archive.run"):
                t0 = time.perf_counter()
                result_box.append(archiver.run(dfs))
                times["run"] = times.get("run", 0.0) + time.perf_counter() - t0
            if any(r.error for r in result_box[-1]):
                raise RuntimeError("; ".join(r.error for r in result_box[-1] if r.error))

        return body

    def run_cycle(cycle: int, traced: bool) -> Sample:
        box: list = []
        times.clear()
        archive_before = _dir_bytes(os.path.join(out, "archive"))
        sinks_before = _dir_bytes(out)
        src_dirs = dict(rewriter.current)
        sample = timed_op(ctx, "archive_cycle", cycle_body(cycle, box), traced, f"perfbench-cycle-{cycle}")
        if not box:
            return sample
        results = box[-1]
        archived = {r.table: r.archived_rows for r in results}
        src_bytes = sum(
            _dir_bytes(os.path.join(src_dirs[t], f"{t}.parquet")) * archived[t] / max(1, state["rows"][t]) for t in names
        )
        sample.layers.update(
            {
                "archive.run_s": times.get("run", 0.0),
                "archive.rewrite_s": times.get("rewrite", 0.0),
                "archive.self_s": times.get("run", 0.0) - times.get("rewrite", 0.0)
                - sum(times.get(type(s).__name__, 0.0) for s in inner),
                "sources.load_table_s": times.get("load", 0.0),
                "sinks.ParquetArchiveSink.input_bytes": archive_before,
                "sinks.bytes_written": _dir_bytes(out) - sinks_before,
                "source_bytes": src_bytes,
                "rows": sum(archived.values()),
                **{f"sinks.{type(s).__name__}.write_s": times.get(type(s).__name__, 0.0) for s in inner},
            }
        )
        ctx.check(f"cycle {cycle} counts", lambda: counts_ok(cycle, results))
        rewriter.version += 1
        _release(ctx.spark)
        return sample

    t0 = time.perf_counter()
    warm = run_cycle(0, traced=False)
    if not warm.ok or ctx.check_failures or warm.layers.get("rows", 0) == 0:
        raise SystemExit(f"warm-up cycle archived nothing or failed: {ctx.op_errors + ctx.check_failures}")
    ctx.layers["setup.check_pass_s"] = time.perf_counter() - t0
    if ctx.trace:
        _calibrate_input_bytes(ctx, os.path.join(v0, "instance_metadata.parquet"))

    cycle = [0]

    def one_pass(p: int) -> list[Sample]:
        out = []
        for i in range(CYCLES_PER_PASS):
            cycle[0] += 1
            out.append(run_cycle(cycle[0], ctx.trace and (i + p) % 2 == 1))
        return out

    region = timed_region(ctx, one_pass)
    verify_all()
    return _finish(ctx, *region)


# --- metrics ------------------------------------------------------------


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile with at least 10
    samples beyond it; with fewer than 11 samples, the maximum."""
    vals = sorted(values)
    n = len(vals)
    if n < 11:
        return vals[-1], 100.0, n
    pct = 100.0 * (n - 10) / n
    return vals[n - 11], pct, n


def _mean(samples: list[Sample], key: str) -> float:
    vals = [s.layers.get(key, 0.0) for s in samples]
    return sum(vals) / len(vals) if vals else 0.0


def _finish(ctx: Ctx, samples: list[Sample], region_wall: float, rss_mb: float) -> dict:
    plain = [s for s in samples if not s.traced]
    traced = [s for s in samples if s.traced]
    walls = [s.wall for s in plain]
    failed = sum(not s.ok for s in samples) + len(ctx.check_failures)
    attempted = len(samples) + ctx.checks
    t_val, t_pct, t_n = tail(walls)
    recall = statistics.mean(ctx.recall.values()) if ctx.recall else 1.0 - len(ctx.check_failures) / max(1, ctx.checks)
    e2e = {
        "setup_s": (statistics.median(ctx.setup_s), "s"),
        "ops_per_s": (len(plain) / sum(walls), "1/s"),
        "op_p50_s": (statistics.median(walls), "s"),
        "op_tail_s": (t_val, "s"),
        "cpu_s_per_op": (sum(s.cpu for s in plain) / len(plain), "s"),
        "rss_mb": (rss_mb, "MB"),
        "ok_frac": (1.0 - failed / attempted, "ratio"),
        "answer_recall": (recall, "ratio"),
    }
    layers = {}
    if traced:
        layers = _layers(ctx, plain, traced)
    report = {
        "workload": ctx.workload,
        "seed": ctx.seed,
        "ops": len(plain),
        "traced_ops": len(traced),
        "region_wall_s": region_wall,
        "op_tail": {"percentile": t_pct, "samples": t_n},
        "setup_s": ctx.setup_s,
        "check_pass_s": ctx.layers.get("setup.check_pass_s"),
        "recall_at_5": ctx.recall,
        "failures": ctx.op_errors + ctx.check_failures,
        # a pass's own time is the untraced ops and the harness between
        # ops, not a layer of the program
        "self_time_s": sorted(
            ((k, v) for k, v in ctx.tracer.self_times().items() if k != "pass"), key=lambda kv: -kv[1]
        ),
    }
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "e2e": e2e,
        "layers": layers,
        "report": report,
    }


SPARK_KEYS = [
    "jobs",
    "stages",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "input_bytes",
    "shuffle_bytes",
    "spill_bytes",
    "driver_only_s",
    "unattributed_jobs",
]


def _layers(ctx: Ctx, plain: list[Sample], traced: list[Sample]) -> dict:
    n = len(traced)
    span_s = {"plan": 0.0, "exec": 0.0}
    for s in ctx.tracer.spans:
        if s["name"] in span_s:
            span_s[s["name"]] += s["end"] - s["start"]
    out = {
        "session.get_spark_s": statistics.median(ctx.get_spark_s),
        "queries.plan_s": span_s["plan"] / n,
        "queries.exec_s": span_s["exec"] / n,
        "python.worker_cpu_s": sum(s.worker_cpu for s in traced) / n,
        "trace.overhead_ratio": statistics.mean(s.wall for s in traced) / statistics.mean(s.wall for s in plain),
        **{f"spark.{k}": _mean(traced, k) for k in SPARK_KEYS},
        **ctx.layers,
    }
    if ctx.workload == "archive_cycle":
        for k in (
            "archive.run_s",
            "archive.self_s",
            "archive.rewrite_s",
            "sources.load_table_s",
            "sinks.CsvSink.write_s",
            "sinks.SqlDumpSink.write_s",
            "sinks.ParquetArchiveSink.write_s",
            "sinks.ParquetArchiveSink.input_bytes",
            "sinks.bytes_written",
        ):
            out[k] = _mean(traced, k)
        rows = sum(s.layers.get("rows", 0) for s in traced)
        out["archive.rows_per_s"] = rows / sum(s.wall for s in traced)
        out["sinks.stored_bytes_per_source_byte"] = sum(s.layers["sinks.bytes_written"] for s in traced) / max(
            1.0, sum(s.layers["source_bytes"] for s in traced)
        )
    walls: dict[str, list[float]] = {}
    for s in traced:
        walls.setdefault(s.name, []).append(s.wall)
    for name, w in walls.items():
        if name != "archive_cycle":
            out[f"op.{name}.wall_s"] = statistics.median(w)
    for name, r in ctx.recall.items():
        out[f"op.{name}.recall_at_5"] = r
    return out


WORKLOADS = {
    "archive_cycle": run_archive,
    "analytics_mix": lambda ctx: run_queries(ctx, ANALYTICS_OPS),
}
