"""tools/run_detector.py batch loop: the watchlist file is re-read every
cycle, so an edit to --zones-file reaches the next cycle."""

from __future__ import annotations

import importlib.util
import ipaddress
import pathlib
import sys
import time
import types

import pytest

ROOT = pathlib.Path(__file__).resolve().parents[1]


class _Stop(Exception):
    pass


def test_zones_file_is_reread_each_cycle(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(sys, "path", list(sys.path))
    spec = importlib.util.spec_from_file_location(
        "_tool_run_detector", ROOT / "tools" / "run_detector.py"
    )
    tool = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(tool)

    zones_file = tmp_path / "zones.txt"
    zones_file.write_text("10.0.0.1\n")
    seen: list[list[int]] = []

    def fake_cycle(spark_, *, zones, **kwargs):
        seen.append(sorted(r.ip for r in zones.collect()))
        return []

    def fake_sleep(_seconds):
        if len(seen) == 1:
            zones_file.write_text("# edited\n10.0.0.2\n10.0.0.3\n")
            return
        raise _Stop

    monkeypatch.setattr(tool, "get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(tool, "run_cycle", fake_cycle)
    # the tool's own clock only: py4j threads keep the real time.sleep
    monkeypatch.setattr(
        tool, "time", types.SimpleNamespace(time=time.time, sleep=fake_sleep)
    )
    with pytest.raises(_Stop):
        tool.main([
            "--data-root", str(tmp_path / "hist"),
            "--alerts", str(tmp_path / "alerts"),
            "--zones-file", str(zones_file),
            "--interval", "1",
        ])
    ip = lambda s: int(ipaddress.IPv4Address(s))  # noqa: E731
    assert seen == [[ip("10.0.0.1")], [ip("10.0.0.2"), ip("10.0.0.3")]]
