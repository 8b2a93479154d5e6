"""Slow CI gate: replay the EXACT driver correctness configuration
(sf0.01, every registered query vs its DuckDB oracle, row+schema+hash
compare) via scripts/driver_replica.py — reproducible locally instead
of waiting for the round driver. Run with: pytest -m slow
(the default addopts deselect it). The row comparison itself is
unit-tested without Spark."""

from __future__ import annotations

import importlib.util
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.slow
def test_driver_replica_full_inventory_sf001():
    env = dict(os.environ)
    env["SPARK_GRAFT_SF_DIR"] = "/root/testdata/sf0.01"
    env.setdefault("SPARK_GRAFT_CPUS", "8")
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "driver_replica.py")],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=3600,
    )
    tail = "\n".join(proc.stdout.splitlines()[-40:])
    assert proc.returncode == 0, f"driver replica failures:\n{tail}"
    assert "failures: 0" in proc.stdout


def _replica():
    path = os.path.join(REPO, "scripts", "driver_replica.py")
    spec = importlib.util.spec_from_file_location("driver_replica", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_replica_compares_floats_exactly():
    r = _replica()
    cols = ["x", "k"]
    assert r._rowset([(0.1, "a")], cols) != r._rowset([(0.1 + 1e-9, "a")], cols)
    # one NaN; -0.0 is 0.0, so equal rows sort alike on either side
    a = r._rowset([(0.0, "x"), (-0.0, "y"), (float("nan"), "z")], cols)
    b = r._rowset([(float("nan"), "z"), (-0.0, "x"), (0.0, "y")], cols)
    assert a == b
    assert [r._norm(v) for v in (None, 2, -0.0, 1.5)] == [None, 2, 0.0, 1.5]
