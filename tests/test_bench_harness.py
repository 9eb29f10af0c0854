"""bench.py harness guards that need no Spark session: mode dispatch, the
scaling-history round trip, and the headline registry."""

from __future__ import annotations

import json
import os
import pathlib
import signal
import subprocess
import sys

import pytest

import bench

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_unknown_mode_prints_usage_and_exits_2():
    # a mistyped mode must not start the full local[32] headline run
    p = subprocess.Popen([sys.executable, os.path.join(REPO, "bench.py"),
                          "--no-such-mode"],
                         stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                         text=True, start_new_session=True)
    try:
        out, err = p.communicate(timeout=60)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        pytest.fail("bench.py --no-such-mode did not exit within 60 s")
    assert p.returncode == 2
    assert "--no-such-mode" in err
    for mode in ("--kernel", "--scale-job", "--scaling", "--probe"):
        assert mode in err
    assert "# window probe" not in out + err


def test_history_writer_and_probe_reference_share_bench_dir(
        tmp_path, monkeypatch):
    repo_history = pathlib.Path(REPO, "BENCH", "SCALING_HISTORY.jsonl")
    before = repo_history.read_bytes() if repo_history.exists() else None
    bench_dir = tmp_path / "BENCH"
    monkeypatch.setattr(bench, "BENCH_DIR", str(bench_dir))
    # the working directory must not decide where the history lands
    elsewhere = tmp_path / "elsewhere"
    elsewhere.mkdir()
    monkeypatch.chdir(elsewhere)
    bench._append_history({"eff_2_to_8": 0.9, "eff_8_to_32": 0.8,
                           "legs": {"2": {"seconds": 4.0},
                                    "8": {"seconds": 1.1}},
                           "probes": {"flagship_2": 0.777}})
    assert bench._probe_reference() == 0.777
    rec = json.loads((bench_dir / "SCALING_HISTORY.jsonl").read_text())
    assert rec["probes"] == {"flagship_2": 0.777}
    assert not (elsewhere / "BENCH").exists()
    after = repo_history.read_bytes() if repo_history.exists() else None
    assert after == before


def test_headline_names_resolve_in_bench_registry():
    import __spark_entry__ as em
    qs = bench._bench_queries(em)
    missing = [n for n in bench.HEADLINE if n not in qs]
    assert not missing, f"headline queries missing from registry: {missing}"
    assert all(callable(qs[n]) for n in bench.HEADLINE)
    assert len(set(bench.HEADLINE)) == len(bench.HEADLINE) == 16
