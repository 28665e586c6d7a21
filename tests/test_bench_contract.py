"""bench.py artifact-contract tests (VERDICT r11 #3/#8): the committed
BENCH_FULL.json can only be touched by a deliberate --commit-record run,
and every record self-labels whether its box was contended."""

from __future__ import annotations

import importlib.util
import os
import tempfile

import pytest

pytestmark = pytest.mark.quick


def _bench():
    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(os.path.dirname(__file__), "..", "bench.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_contention_verdict_rule():
    b = _bench()
    assert b._contention_verdict({"steal": 0.0, "iowait": 0.0}) == "clean"
    assert b._contention_verdict({"steal": 0.0144}) == "clean"  # r11 driver
    assert b._contention_verdict({"steal": 0.021}) == "contended"
    assert b._contention_verdict({"iowait": 0.06}) == "contended"
    assert b._contention_verdict({}) == "clean"  # missing counters: no claim


def test_record_path_never_clobbers_committed_record_by_default():
    """A full-battery sf0.1 run WITHOUT --commit-record must park in /tmp
    — the exact scenario (driver bench on a contended box) that left the
    working tree dirty over the committed clean record in r10 AND r11."""
    b = _bench()
    repo = "/repo"
    tmp = tempfile.gettempdir()
    # driver / casual full run: /tmp, committed record untouched
    assert b._record_path(repo, None, "/root/testdata/sf0.1", False) == os.path.join(
        tmp, "BENCH_last.json"
    )
    # deliberate clean-box record: the canonical committed file
    assert b._record_path(repo, None, "/root/testdata/sf0.1", True) == os.path.join(
        repo, "BENCH_FULL.json"
    )
    # restricted battery or non-default SF is never canonical, flag or not
    assert "smoke" in b._record_path(repo, "b1,b2", "/root/testdata/sf0.1", True)
    assert "smoke" in b._record_path(repo, None, "/root/testdata/sf0.01", True)


def test_host_load_fields_present():
    """The record's self-adjudication fields exist on this platform (the
    /proc/stat read is best-effort; on Linux it must produce the five
    counters the steal/iowait fractions derive from)."""
    b = _bench()
    hl = b._host_load()
    assert "cpu_jiffies" in hl
    j = hl["cpu_jiffies"]
    if j is not None:  # Linux
        assert {"user", "system", "idle", "iowait", "steal"} <= set(j)
