"""Extension-query package: one module per thematic wave of the
registry (SURVEY.md section 2.4). ``_WAVES`` order IS the registration
order (the @register side effects fire on import), so the driver-window
rotation in queries/__init__.py depends on it; never derive it from a
directory listing.

Any top-level name of a wave resolves on the package itself, so
`from ...queries.extensions import <anything>` works without a
re-export list.
"""

from importlib import import_module

_WAVES = ("foundations", "analytics", "semantics", "evaluation", "stats",
          "inference", "diagnostics", "comparisons", "timeseries")

for _wave in _WAVES:
    import_module(f"{__name__}.{_wave}")
del _wave


def __getattr__(name: str):
    for wave in _WAVES:
        module = import_module(f"{__name__}.{wave}")
        if name in vars(module):
            return vars(module)[name]
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
