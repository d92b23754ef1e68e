"""The benchmark's tracer wraps library functions by name at install;
a renamed or deleted one would crash a traced run (``--trace 1``), so
every name it lists must resolve."""

from __future__ import annotations

import importlib

from perfbench.trace import TRACED


def test_every_traced_name_resolves():
    for module_name, names in TRACED.values():
        module = importlib.import_module(module_name)
        for name in names:
            obj = module
            for part in name.split("."):
                obj = getattr(obj, part)
            assert callable(obj), f"{module_name}.{name}"
