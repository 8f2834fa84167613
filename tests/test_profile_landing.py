"""tools/profile_landing.py: a hung write-mode attempt is recorded as an
error entry and the profile goes on, keeping the modes already measured."""

import importlib.util
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _profiler():
    spec = importlib.util.spec_from_file_location(
        "profile_landing", os.path.join(REPO, "tools", "profile_landing.py")
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    return m


def test_timed_out_attempt_is_recorded_not_fatal(tmp_path, monkeypatch):
    m = _profiler()
    calls = []

    def fake_run(cmd, **kw):
        calls.append(cmd)
        if len(calls) == 1:
            raise subprocess.TimeoutExpired(cmd, kw["timeout"])
        return subprocess.CompletedProcess(cmd, 0, stdout='{"wall_s": 2.0}\n', stderr="")

    monkeypatch.setattr(m, "REPO", str(tmp_path))
    monkeypatch.setattr(m, "gen_source", lambda n_rows: 1_000_000)
    monkeypatch.setattr(m, "mp_baseline", lambda n_rows, cpus: 1.0)
    monkeypatch.setattr(m.subprocess, "run", fake_run)
    monkeypatch.setattr(sys, "argv", ["profile_landing.py", "100", "2"])
    m.main()
    res = json.loads((tmp_path / "PROFILE_LANDING.json").read_text())
    assert len(calls) == 4 * 2 * 2  # modes x cpu levels x repeats: none lost
    assert res["modes"]["current-4"] == {
        "wall_s": 2.0,
        "mb_per_s": 0.5,
        "errors": ["timeout after 900 s"],
    }
    assert res["modes"]["rawbin-16"] == {"wall_s": 2.0, "mb_per_s": 0.5}
