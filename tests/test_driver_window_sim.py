"""tools/driver_window_sim.py rejects a bad command line before it
starts a Spark session, and its --timeout cancels a threaded chain."""

from __future__ import annotations

import json
import os
import subprocess
import sys

TOOL = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools", "driver_window_sim.py")


def _run(*args):
    # no usable JVM: reaching get_spark fails with a gateway error, not exit 0 or 2
    env = dict(os.environ, JAVA_HOME="/nonexistent-java-home")
    return subprocess.run(
        [sys.executable, TOOL, *args], capture_output=True, text=True, env=env, timeout=120
    )


def test_help_exits_zero_without_a_run():
    out = _run("--help")
    assert out.returncode == 0, out.stderr
    assert out.stdout.startswith("usage:") and "--timeout" in out.stdout
    assert "OK" not in out.stdout


def test_unknown_flag_exits_two():
    out = _run("--timout", "300")
    assert out.returncode == 2, (out.stdout, out.stderr)
    assert "unrecognized arguments: --timout" in out.stderr
    assert out.stdout == ""


def test_timeout_cancels_a_threaded_chain(sf_small, tmp_path):
    """knn_ivf_indexed builds its index through session.concurrently;
    a timeout that lands inside the chain is recorded as ``timeout``
    and leaves no job of the query's group running."""
    log = tmp_path / "sim.jsonl"
    out = subprocess.run(
        [sys.executable, TOOL, sf_small, "--only", "knn_ivf_indexed", "--timeout", "1", "--log", str(log)],
        capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 1, (out.stdout, out.stderr[-2000:])
    rows = [json.loads(line) for line in log.read_text().splitlines()]
    assert [(r["name"], r["status"], r["active_jobs"]) for r in rows] == [("knn_ivf_indexed", "timeout", 0)], rows
