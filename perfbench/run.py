"""Benchmark entry point.

    python3 perfbench/run.py --workload archive_cycle --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed``
under ``.perfbench/`` in the checkout; Spark's scratch, temp files and
warehouse go there too and are removed when the run ends. The last
line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics of BENCHMARK.json,
or its per-layer metrics with ``--trace 1``). A human-readable report
and, with ``--trace 1``, the self-time ranking go to stderr; the spans
are written to ``.perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def isolate(work: str) -> None:
    """Keep every file the run creates inside ``work``; make the
    checkout importable by the Spark Python workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_STREAM_SCRATCH"] = tmp
    # spark.* system properties reach the SparkConf: no console progress
    # bars interleaved with the report on stderr
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work} -Dspark.ui.showConsoleProgress=false"
    )
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    tempfile.tempdir = tmp
    os.chdir(work)  # spark-warehouse/ and friends land here
    sys.path[:0] = [ROOT, HERE]


def stop_spark() -> None:
    """Stop the session and the JVM, and wait until every child ends."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the JVM exits on EOF
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


def metrics_out(result: dict, names: list[dict], trace: bool) -> dict:
    """Every named metric, with its unit; a layer a workload does not
    exercise reads 0."""
    source = result["layers"] if trace else {k: v for k, (v, _) in result["e2e"].items()}
    return {m["name"]: {"value": float(source.get(m["name"], 0.0)), "unit": m["unit"]} for m in names}


def main(argv: list[str] | None = None) -> int:
    # a terminated run still stops the JVM and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--small", action="store_true", help="reduced input sizes (smoke runs)")
    args = ap.parse_args(argv)

    bench_spec = spec()
    workload_names = [w["name"] for w in bench_spec["workloads"]]
    if args.workload not in workload_names:
        ap.error(f"--workload must be one of {workload_names}")
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    cwd = os.getcwd()
    try:
        isolate(work)
        import workloads
        from probe import Tracer

        ctx = workloads.Ctx(args.workload, args.seed, args.seconds, bool(args.trace), work, small=args.small)
        ctx.tracer = Tracer(False)
        try:
            result = workloads.WORKLOADS[args.workload](ctx)
        finally:
            stop_spark()
        report = result["report"]
        if args.trace:
            traces = os.path.join(base, "traces")
            os.makedirs(traces, exist_ok=True)
            ctx.tracer.dump(os.path.join(traces, f"{args.workload}-{args.seed}.json"))
            print("self time by layer (s, traced ops):", file=sys.stderr)
            for name, secs in report["self_time_s"]:
                print(f"  {name:<12} {secs:9.3f}", file=sys.stderr)
        print(json.dumps(report), file=sys.stderr)
        names = bench_spec["per_layer" if args.trace else "end_to_end"]
        out = {
            "correct": result["correct"],
            "attempted": result["attempted"],
            "failed": result["failed"],
            "metrics": metrics_out(result, names, bool(args.trace)),
        }
    finally:
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
