"""tools/driver_window_sim.py rejects a bad command line before it
starts a Spark session."""

from __future__ import annotations

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
