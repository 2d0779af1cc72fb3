"""Registry plumbing: the extension package resolves names through
``_WAVES`` instead of a re-export list, so these checks pin what that
list used to guarantee by hand. No Spark session is needed.
"""

from __future__ import annotations

import ast
import os
import re

import pytest

import poc_parquet_publisher_spark
from poc_parquet_publisher_spark.queries import (
    REGISTRY,
    _WINDOW_FIRST,
    all_queries,
    extensions,
)

pytestmark = pytest.mark.smoke

all_queries()
EXT_PREFIX = extensions.__name__ + "."


def _extension_specs():
    return [
        s for s in REGISTRY.values()
        if s.spark.__module__.startswith(EXT_PREFIX)
    ]


def test_every_extension_builder_resolves_on_the_package():
    specs = _extension_specs()
    assert len(specs) == sum(n.startswith("x") for n in REGISTRY)
    for spec in specs:
        fn = spec.spark
        assert getattr(extensions, fn.__name__) is fn, spec.name


def test_waves_cover_every_wave_file():
    # A wave file missing from _WAVES would never be imported, so its
    # @register entries would silently vanish from the registry.
    files = {
        f.removesuffix(".py")
        for f in os.listdir(os.path.dirname(extensions.__file__))
        if f.endswith(".py") and f != "__init__.py"
    }
    assert len(extensions._WAVES) == len(set(extensions._WAVES))
    assert set(extensions._WAVES) == files


@pytest.mark.parametrize("group", ["oracle", "rows_only"])
def test_rotated_groups_keep_wave_order(group):
    # Registration order is _WAVES order; the window rotation keeps it
    # inside the oracle-backed and rows-only extension groups.
    specs = [
        s for s in _extension_specs()
        if s.name not in _WINDOW_FIRST
        and (s.oracle is None) == (group == "rows_only")
    ]
    ranks = [
        extensions._WAVES.index(s.spark.__module__.removeprefix(EXT_PREFIX))
        for s in specs
    ]
    assert specs
    assert ranks == sorted(ranks)


def test_unknown_name_raises_attribute_error():
    with pytest.raises(AttributeError, match="x000_no_such_entry"):
        extensions.x000_no_such_entry
    assert not hasattr(extensions, "x000_no_such_entry")


def _read(path: str) -> str:
    with open(path, encoding="utf-8") as fh:
        return fh.read()


def _package_sources() -> dict[str, str]:
    """Package-relative path -> source of every package module."""
    root = os.path.dirname(poc_parquet_publisher_spark.__file__)
    return {
        os.path.relpath(os.path.join(d, f), root): _read(os.path.join(d, f))
        for d, _, files in os.walk(root)
        for f in files
        if f.endswith(".py")
    }


_WINDOWS = os.path.join("streaming", "windows.py")


@pytest.mark.parametrize(
    "needle, owner",
    [
        ("F.split(F.lower(", os.path.join("ops", "text.py")),
        ("i + F.lit(2), F.size(", "scale.py"),
        ('.format("memory")', _WINDOWS),
        (".dataType, TimestampNTZType)", _WINDOWS),
        ("read.parquet(", "catalog.py"),
    ],
)
def test_shared_derivation_defined_once(needle, owner):
    # The tokenizer (text._toks) and the in-array pair expansion
    # (scale.pairs_within) feed the Spark side of every hash-checked
    # registry entry; an inlined copy would let one copy drift. The
    # memory-sink drain (windows.drain_to_memory) and the watermark's
    # NTZ cast (windows.event_time) carry every stream == batch check.
    # Every Parquet read goes through catalog.read_parquet, so tables and
    # requests share one schema rule and one nanosecond rule.
    holders = sorted(
        rel for rel, src in _package_sources().items() if needle in src
    )
    assert holders == [owner]


_NOQA_F401 = re.compile(r"noqa:[^#\n]*\bF401")


def test_package_modules_use_every_import():
    # __init__ modules re-export by importing; everywhere else an
    # imported name nothing reads is dead weight at import time. A
    # deliberate re-export or side-effect import says so with
    # ``noqa: F401`` on its line.
    unused = []
    for rel, src in sorted(_package_sources().items()):
        if os.path.basename(rel) == "__init__.py":
            continue
        tree = ast.parse(src)
        lines = src.splitlines()
        loaded = {
            n.id
            for n in ast.walk(tree)
            if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load)
        }
        for node in ast.walk(tree):
            if not isinstance(node, (ast.Import, ast.ImportFrom)):
                continue
            if getattr(node, "module", None) == "__future__":
                continue
            text = "\n".join(lines[node.lineno - 1 : node.end_lineno])
            if _NOQA_F401.search(text):
                continue
            for alias in node.names:
                name = alias.asname or alias.name.split(".")[0]
                if name not in loaded:
                    unused.append(f"{rel}:{node.lineno} {name}")
    assert unused == []


_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_tools_measure_without_the_spark_ui():
    # bench.py and the scripts measure through telemetry.phase, which
    # reads the status store with the UI off; none of them turns the UI
    # on or reads its REST API.
    scripts = os.path.join(_REPO, "scripts")
    paths = [os.path.join(_REPO, "bench.py")] + [
        os.path.join(scripts, f) for f in sorted(os.listdir(scripts))
    ]
    offenders = [
        f"{os.path.relpath(path, _REPO)}: {needle}"
        for path in paths
        for needle in ("api/v1", "urllib", "spark.ui.enabled")
        if needle in _read(path)
    ]
    assert offenders == []


def test_engine_does_not_import_telemetry():
    # telemetry is the tools' instrument; the engine packages and the
    # benchmark (perfbench measures the program from outside) stay
    # free of it.
    engine = ("pipeline", "queries", "ops", "streaming")
    sources = [
        src for rel, src in _package_sources().items()
        if rel.split(os.sep)[0] in engine
    ]
    perfbench = os.path.join(_REPO, "perfbench")
    sources += [
        _read(os.path.join(d, f))
        for d, _, files in os.walk(perfbench)
        for f in files
        if f.endswith(".py")
    ]
    imports_telemetry = re.compile(
        r"^\s*(from|import)\s[^\n]*\btelemetry\b", re.MULTILINE
    )
    assert sources
    assert not [src for src in sources if imports_telemetry.search(src)]
