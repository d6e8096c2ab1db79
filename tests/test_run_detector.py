"""tools/run_detector.py: the watchlist file, or the Consul KV
directory, is re-read every batch cycle and the file every streaming
micro-batch, so an edit reaches the next one; the tool starts from any
working directory."""

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


def _two_batch_cycles(tool, spark, monkeypatch, argv, edit) -> list[list[int]]:
    """Run the tool's batch loop for two cycles with `run_cycle` faked,
    calling `edit()` between them; returns each cycle's watchlist."""
    seen: list[list[int]] = []

    def fake_cycle(spark_, *, zones, **kwargs):
        seen.append(sorted(r.ip for r in zones.collect()))
        return []

    def fake_sleep(_seconds):
        if len(seen) == 1:
            edit()
            return
        raise _Stop

    monkeypatch.setattr(tool, "get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(tool, "run_cycle", fake_cycle)
    # the tool's own clock only: py4j threads keep the real time.sleep
    monkeypatch.setattr(
        tool, "time", types.SimpleNamespace(time=time.time, sleep=fake_sleep)
    )
    with pytest.raises(_Stop):
        tool.main(argv + ["--interval", "1"])
    return seen


def test_zones_file_is_reread_each_cycle(spark, tmp_path, monkeypatch):
    tool = _load_tool(monkeypatch)
    zones_file = tmp_path / "zones.txt"
    zones_file.write_text("10.0.0.1\n")
    seen = _two_batch_cycles(tool, spark, monkeypatch, [
        "--data-root", str(tmp_path / "hist"),
        "--alerts", str(tmp_path / "alerts"),
        "--zones-file", str(zones_file),
    ], lambda: zones_file.write_text("# edited\n10.0.0.2\n10.0.0.3\n"))
    ip = lambda s: int(ipaddress.IPv4Address(s))  # noqa: E731
    assert seen == [[ip("10.0.0.1")], [ip("10.0.0.2"), ip("10.0.0.3")]]


def test_consul_watchlist_is_reread_each_cycle(spark, tmp_path, monkeypatch):
    """--consul-host/--consul-key-dir: every batch cycle fetches the KV
    directory again over the Consul HTTP API, as the reference's
    poller does (hha.py:41-71), so an edit in Consul gates the next
    cycle."""
    import base64
    import json
    import urllib.request

    tool = _load_tool(monkeypatch)
    kv = {"a": "10.0.0.1\nnot-an-ip\n"}
    urls: list[str] = []

    class _Response:
        def __init__(self, body: bytes):
            self.body = body

        def __enter__(self):
            return self

        def __exit__(self, *exc):
            return False

        def read(self) -> bytes:
            return self.body

    def fake_urlopen(url, timeout=None):
        urls.append(url)
        entries = [{"Key": "hha/zones/", "Value": None}] + [
            {"Key": f"hha/zones/{k}", "Value": base64.b64encode(v.encode()).decode()}
            for k, v in kv.items()
        ]
        return _Response(json.dumps(entries).encode())

    monkeypatch.setattr(urllib.request, "urlopen", fake_urlopen)
    seen = _two_batch_cycles(tool, spark, monkeypatch, [
        "--data-root", str(tmp_path / "hist"),
        "--alerts", str(tmp_path / "alerts"),
        "--consul-host", "consul.test:8501",
        "--consul-key-dir", "/hha/zones/",
    ], lambda: kv.update(a="# edited\n10.0.0.2\n", b="10.0.0.3\n"))
    ip = lambda s: int(ipaddress.IPv4Address(s))  # noqa: E731
    assert seen == [[ip("10.0.0.1")], [ip("10.0.0.2"), ip("10.0.0.3")]]
    assert urls == ["http://consul.test:8501/v1/kv/hha/zones?recurse=true"] * 2


@pytest.mark.parametrize("extra", [
    ["--zones-file", "zones.txt", "--consul-host", "h", "--consul-key-dir", "d"],
    ["--consul-host", "h"],
    ["--consul-key-dir", "d"],
    ["--consul-host", "h:port", "--consul-key-dir", "d"],
])
def test_watchlist_address_errors(monkeypatch, extra):
    """One watchlist source at a time, and a Consul address needs its
    key directory: the tool exits with a usage error before any
    session starts."""
    tool = _load_tool(monkeypatch)
    monkeypatch.setattr(tool, "get_spark", lambda *a, **k: pytest.fail("started"))
    with pytest.raises(SystemExit) as exc:
        tool.main(["--data-root", "d", "--alerts", "a", "--once"] + extra)
    assert exc.value.code == 2


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
