"""The program surface the benchmark and tools reach.

perfbench/run.py drives `hha_spark` through a fixed set of names (it
rebinds the DETECTOR_SPANS attributes of `hha_spark.detector` to trace
them, and runs the REGISTRY_QUERIES against their oracles); a rename
must fail here, not in a benchmark run. Every library module and every
`tools/*.py` script must also import cleanly, so a deletion that leaves
a dangling import is caught at test time.
"""

from __future__ import annotations

import importlib
import importlib.util
import pathlib
import pkgutil
import sys

import pytest

import hha_spark

ROOT = pathlib.Path(__file__).resolve().parents[1]
TOOLS = sorted((ROOT / "tools").glob("*.py"))


def _load(path: pathlib.Path, name: str):
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture
def keep_sys_path(monkeypatch):
    # the scripts put their checkout on sys.path when imported
    monkeypatch.setattr(sys, "path", list(sys.path))


def test_detector_spans_are_bound():
    from hha_spark import detector

    run = _load(ROOT / "perfbench" / "run.py", "_perfbench_run")
    attrs = [attr for attr, _ in run.DETECTOR_SPANS]
    assert attrs
    for attr in [*attrs, "run_cycle"]:
        assert callable(getattr(detector, attr, None)), attr


def test_registry_queries_have_oracles():
    from hha_spark.queries import all_oracles, all_queries

    run = _load(ROOT / "perfbench" / "run.py", "_perfbench_run")
    queries, oracles = all_queries(), all_oracles()
    assert run.REGISTRY_QUERIES
    for name in run.REGISTRY_QUERIES:
        assert name in queries and name in oracles, name


def test_benchmark_imports_resolve(keep_sys_path):
    from hha_spark.caching import release_tracked
    from hha_spark.config import DetectorParams
    from hha_spark.session import get_spark
    from hha_spark.sources.watchlist import zones_from_ints

    assert all(map(callable, (release_tracked, DetectorParams, get_spark, zones_from_ints)))
    selfcheck = _load(ROOT / "tools" / "selfcheck.py", "_tool_selfcheck")
    assert callable(selfcheck.strictness_problems)
    assert callable(selfcheck.compare)


@pytest.mark.parametrize(
    "name",
    sorted(
        m.name
        for m in pkgutil.walk_packages(hha_spark.__path__, "hha_spark.")
    ),
)
def test_library_module_imports(name):
    importlib.import_module(name)


@pytest.mark.parametrize("path", TOOLS, ids=[p.stem for p in TOOLS])
def test_tool_imports(path, keep_sys_path):
    _load(path, f"_tool_{path.stem}")
