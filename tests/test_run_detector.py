"""tools/run_detector.py: the watchlist file is re-read every batch
cycle and every streaming micro-batch, so an edit to --zones-file
reaches the next one; the tool starts from any working directory."""

from __future__ import annotations

import importlib.util
import ipaddress
import pathlib
import subprocess
import sys
import time
import types

import pytest

from hha_spark.schemas import HISTOGRAM_SCHEMA

ROOT = pathlib.Path(__file__).resolve().parents[1]
TOOL = ROOT / "tools" / "run_detector.py"


class _Stop(Exception):
    pass


def _load_tool(monkeypatch):
    monkeypatch.setattr(sys, "path", list(sys.path))
    spec = importlib.util.spec_from_file_location("_tool_run_detector", TOOL)
    tool = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(tool)
    return tool


def test_zones_file_is_reread_each_cycle(spark, tmp_path, monkeypatch):
    tool = _load_tool(monkeypatch)
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


def test_streaming_mode_rereads_zones_file_each_micro_batch(
    spark, tmp_path, monkeypatch
):
    """Two micro-batches of the real stream the tool starts, with the
    zones file rewritten between them: the second batch is gated by
    the new watchlist."""
    tool = _load_tool(monkeypatch)
    now = 1_700_000_000
    watched, other = "10.100.6.12", "10.100.6.155"
    ip = lambda s: int(ipaddress.IPv4Address(s))  # noqa: E731
    data_root = str(tmp_path / "in")
    zones_file = tmp_path / "zones.txt"
    zones_file.write_text(f"{watched}\n")

    def write_input(rows):
        spark.createDataFrame(rows, HISTOGRAM_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(data_root)

    # both keys are alert-worthy new keys; only the watched one may fire
    write_input(
        [(now - 10, None, 65, 11, 12000, ip(watched))] * 2
        + [(now - 10, None, 68, 11, 12000, ip(other))] * 2
    )
    emitted: list[list[dict]] = []
    real_run = tool.run_streaming_detector

    def drive(spark_, **kwargs):
        kwargs.update(
            trigger_sec=None, now_fn=lambda: now, on_rules=emitted.append
        )
        q = real_run(spark_, **kwargs)
        q.processAllAvailable()
        zones_file.write_text(f"# edited\n{other}\n")
        # a quiet row only to start the second micro-batch
        write_input([(now - 10, None, 70, 11, 1, ip(watched))])
        q.processAllAvailable()
        return types.SimpleNamespace(awaitTermination=q.stop)

    monkeypatch.setattr(tool, "get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(tool, "run_streaming_detector", drive)
    assert tool.main([
        "--mode", "streaming",
        "--data-root", data_root,
        "--samples", str(tmp_path / "samples"),
        "--alerts", str(tmp_path / "alerts"),
        "--checkpoint", str(tmp_path / "ckpt"),
        "--zones-file", str(zones_file),
    ]) == 0
    assert [sorted({r["dst_ip"] for r in b}) for b in emitted] == [
        [watched], [other]
    ]


def test_help_runs_outside_the_checkout(tmp_path):
    out = subprocess.run(
        [sys.executable, str(TOOL), "--help"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode == 0, out.stderr
    assert "--zones-file" in out.stdout
