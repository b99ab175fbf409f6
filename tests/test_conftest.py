"""Pins on the root conftest's slow-drill selection: the env switch
parses off-values as off, and every ``_SLOW_DRILLS`` pattern still names
a collected test — a renamed drill would otherwise silently rejoin the
default run, and a stale pattern would go unnoticed."""

from __future__ import annotations

import os
import subprocess
import sys

import conftest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_run_slow_env_flag_parses_off_values(monkeypatch):
    for off in ("", "0", "false", "False", "no", " NO "):
        monkeypatch.setenv("SPARK_GRAFT_RUN_SLOW", off)
        assert not conftest._env_flag("SPARK_GRAFT_RUN_SLOW"), off
    for on in ("1", "true", "yes"):
        monkeypatch.setenv("SPARK_GRAFT_RUN_SLOW", on)
        assert conftest._env_flag("SPARK_GRAFT_RUN_SLOW"), on
    monkeypatch.delenv("SPARK_GRAFT_RUN_SLOW")
    assert not conftest._env_flag("SPARK_GRAFT_RUN_SLOW")


def test_slow_drill_patterns_each_match_a_collected_test():
    out = subprocess.run(
        [sys.executable, "-m", "pytest", "--collect-only", "-q",
         "-p", "no:cacheprovider", "tests/"],
        cwd=REPO, capture_output=True, text=True, timeout=300,
    ).stdout
    nodeids = [ln for ln in out.splitlines() if "::" in ln]
    assert nodeids, out[-2000:]
    stale = [p for p in conftest._SLOW_DRILLS if not any(p in n for n in nodeids)]
    assert stale == [], f"_SLOW_DRILLS patterns matching no collected test: {stale}"
