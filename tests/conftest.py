from __future__ import annotations

import os
import subprocess
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    from realparse_spark.session import get_spark

    s = get_spark("realparse-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    yield con
    con.close()


# --- vanilla-gate early launch -------------------------------------------
# The all-262-query default-session sweep runs in its own subprocess (session
# configs are sticky per JVM) and takes ~2-3 min even thread-pooled.  Run
# sequentially at its alphabetical slot it EXTENDS the suite by that much;
# launched here at collection time it overlaps the several hundred other
# tests (optimization guide §2.6 applied to the suite itself) and
# test_all_queries_on_default_session merely joins it.  Only launched when
# that test is still selected after collection and -k/-m deselection (so
# `pytest tests/test_dedup.py` never pays for it), and stopped at session
# end if nothing joined it.

_VANILLA_PROC = {}


# trylast: runs after pytest's own -k/-m deselection hooks; --collect-only
# runs no test, so it launches nothing either
@pytest.hookimpl(trylast=True)
def pytest_collection_modifyitems(config, items):
    if config.getoption("collectonly"):
        return
    if any(i.name == "test_all_queries_on_default_session" for i in items):
        import tempfile

        from tests.vanilla_gate import SCRIPT

        # file-backed stdio, NOT pipes: nothing drains the streams until
        # the joining test runs, and a filled 64 KB pipe would deadlock
        # the subprocess mid-suite
        out = tempfile.NamedTemporaryFile(
            mode="w+", prefix="vanilla_gate_out_", suffix=".log", delete=False
        )
        err = tempfile.NamedTemporaryFile(
            mode="w+", prefix="vanilla_gate_err_", suffix=".log", delete=False
        )
        proc = subprocess.Popen(
            [sys.executable, "-c", SCRIPT],
            stdout=out,
            stderr=err,
            text=True,
            cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        )
        _VANILLA_PROC.update(proc=proc, out=out, err=err)


@pytest.fixture
def vanilla_gate_proc():
    assert _VANILLA_PROC.get("proc") is not None, (
        "collection hook did not launch the vanilla gate"
    )
    yield _VANILLA_PROC
    # the joining test has read both logs by now
    _close_gate_logs(_VANILLA_PROC)


def pytest_sessionfinish(session, exitstatus):
    """Stop a gate subprocess nothing joined (the joining test failed early
    or was interrupted) and remove its temp logs."""
    proc = _VANILLA_PROC.get("proc")
    if proc is not None and proc.poll() is None:
        proc.terminate()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    _close_gate_logs(_VANILLA_PROC)


def _close_gate_logs(gate: dict) -> None:
    """Close and unlink the gate's stdout/stderr temp logs (idempotent)."""
    for key in ("out", "err"):
        fh = gate.pop(key, None)
        if fh is not None:
            fh.close()
            if os.path.exists(fh.name):
                os.unlink(fh.name)
