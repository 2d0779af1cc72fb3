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


# -- operator options ------------------------------------------------------
# An operator takes a parameter only when two callers pass different
# values; a value every caller leaves alone is a constant. The census
# below reads every call in the package, bench.py, scripts/, perfbench/
# and tests/, resolves each callee by module-qualified name (through
# import aliases and package re-exports) and collects, for every
# defaulted parameter of a module-level function in the scoped modules,
# the values it receives: literals and module constants by value, a
# caller's own parameter passed straight through by that parameter's
# values, anything else as one value per call site.

_PKG = poc_parquet_publisher_spark.__name__
_CENSUS_DIRS = (_PKG, "scripts", "perfbench", "tests")


def _census_sources() -> dict[str, tuple[str, ast.Module]]:
    """Dotted module name -> (repo-relative path, parsed tree)."""
    paths = [os.path.join(_REPO, "bench.py")] + [
        os.path.join(d, f)
        for top in _CENSUS_DIRS
        for d, _, files in os.walk(os.path.join(_REPO, top))
        for f in files
        if f.endswith(".py")
    ]
    out = {}
    for path in paths:
        rel = os.path.relpath(path, _REPO)
        parts = rel[: -len(".py")].split(os.sep)
        if parts[-1] == "__init__":
            parts.pop()
        out[".".join(parts)] = (rel, ast.parse(_read(path)))
    return out


def _operator_scope(mod: str) -> bool:
    parts = mod.split(".")[1:] if mod.startswith(_PKG + ".") else []
    if parts[:1] in (["ops"], ["streaming"]):
        return len(parts) == 2 and parts[1] != "publisher"
    return parts == ["scale"] or (
        parts[:2] == ["queries", "extensions"] and len(parts) == 3
    )


def _import_aliases(mod: str, rel: str, tree: ast.Module) -> dict:
    """Local name -> dotted target, over every import in the file."""
    package = mod if rel.endswith("__init__.py") else mod.rpartition(".")[0]
    out = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                out[a.asname or a.name.split(".")[0]] = (
                    a.name if a.asname else a.name.split(".")[0]
                )
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                up = package.split(".")
                up = up[: len(up) - node.level + 1]
                base = ".".join(up + ([node.module] if node.module else []))
            for a in node.names:
                out[a.asname or a.name] = f"{base}.{a.name}"
    return out


def _dotted(node) -> str | None:
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        head = _dotted(node.value)
        return head and f"{head}.{node.attr}"
    return None


def _option_census() -> dict[tuple[str, str], set]:
    sources = _census_sources()
    aliases = {m: _import_aliases(m, *src) for m, src in sources.items()}
    defs = {
        m: {n.name: n for n in tree.body if isinstance(n, ast.FunctionDef)}
        for m, (_, tree) in sources.items()
    }
    consts = {}
    for m, (_, tree) in sources.items():
        for n in tree.body:
            target = n.targets[0] if isinstance(n, ast.Assign) else None
            if isinstance(target, ast.Name):
                try:
                    consts[f"{m}.{target.id}"] = ast.literal_eval(n.value)
                except ValueError:
                    pass

    def resolve(mod: str, name: str) -> str | None:
        head, _, rest = name.partition(".")
        if head in aliases[mod]:
            q = aliases[mod][head] + ("." + rest if rest else "")
        elif head in defs[mod] or f"{mod}.{head}" in consts:
            q = f"{mod}.{name}"
        else:
            return None
        seen = set()
        while q not in seen:  # follow package re-exports
            seen.add(q)
            owner, _, last = q.rpartition(".")
            if last in aliases.get(owner, {}) and last not in defs[owner]:
                q = aliases[owner][last]
        return q

    ops = {}  # qualified name -> (positional names, {param: default})
    for m, fns in defs.items():
        if not _operator_scope(m):
            continue
        for name, fn in fns.items():
            args = fn.args.posonlyargs + fn.args.args
            defaulted = dict(zip(args[len(args) - len(fn.args.defaults):],
                                 fn.args.defaults))
            defaulted.update(
                (a, d) for a, d in zip(fn.args.kwonlyargs, fn.args.kw_defaults)
                if d is not None
            )
            if defaulted:
                ops[f"{m}.{name}"] = (
                    [a.arg for a in args],
                    {a.arg: d for a, d in defaulted.items()},
                )
    values = {(q, p): set() for q, (_, d) in ops.items() for p in d}
    links = {key: set() for key in values}

    def literal(mod, expr):
        try:
            return ("=", repr(ast.literal_eval(expr)))
        except ValueError:
            q = resolve(mod, _dotted(expr) or "")
            return ("=", repr(consts[q])) if q in consts else None

    for mod, (rel, tree) in sources.items():
        for top in tree.body:
            outer = None
            if isinstance(top, ast.FunctionDef):
                outer = f"{mod}.{top.name}"
            called = {
                id(n.func) for n in ast.walk(top) if isinstance(n, ast.Call)
            }
            for node in ast.walk(top):
                if isinstance(node, (ast.Name, ast.Attribute)):
                    # an operator passed as a value: any call may follow
                    q = resolve(mod, _dotted(node) or "")
                    if q in ops and id(node) not in called:
                        for p in ops[q][1]:
                            values[(q, p)].add(("?", rel, node.lineno, p))
                    continue
                if not isinstance(node, ast.Call):
                    continue
                callee = resolve(mod, _dotted(node.func) or "")
                if callee not in ops:
                    continue
                positional, defaulted = ops[callee]
                bound = dict(zip(positional, node.args))
                bound.update((k.arg, k.value) for k in node.keywords if k.arg)
                splat = any(
                    isinstance(a, ast.Starred) for a in node.args
                ) or any(k.arg is None for k in node.keywords)
                for p, default in defaulted.items():
                    expr = bound.get(p)
                    if expr is None or isinstance(expr, ast.Starred):
                        v = ("?", rel, node.lineno, p) if splat else (
                            literal(callee.rpartition(".")[0], default)
                            or ("default", callee, p)
                        )
                    else:
                        v = literal(mod, expr)
                    if v is None and isinstance(expr, ast.Name) and (
                        (outer, expr.id) in values
                    ) and not any(
                        isinstance(n, ast.Name) and n.id == expr.id
                        and not isinstance(n.ctx, ast.Load)
                        for n in ast.walk(top)
                    ):
                        links[(callee, p)].add((outer, expr.id))
                        continue
                    values[(callee, p)].add(
                        v or ("?", rel, expr.lineno, expr.col_offset)
                    )
    changed = True
    while changed:  # a pass-through parameter takes its source's values
        changed = False
        for key, sources_ in links.items():
            for src in sources_:
                if not values[src] <= values[key]:
                    values[key] |= values[src]
                    changed = True
    return values


def test_operator_options_take_two_values():
    values = _option_census()
    assert len(values) > 50  # the census sees the operator layer
    one_valued = sorted(
        f"{q.removeprefix(_PKG + '.')}({p})"
        for (q, p), vals in values.items()
        if len(vals) < 2
    )
    assert one_valued == []
