"""Every package module imports, and every name in its `__all__` resolves.

Deleting a function while leaving its `__all__` entry behind breaks only
`from module import *` -- nothing else notices -- so the check walks the
whole package rather than the modules a test happens to import."""

from __future__ import annotations

import importlib
import pkgutil

import pytest

import uofi_payroll_etl_main_spark as pkg

MODULES = sorted(
    m.name for m in pkgutil.walk_packages(pkg.__path__, pkg.__name__ + ".")
)


def test_walk_finds_the_package():
    assert f"{pkg.__name__}.io" in MODULES
    assert f"{pkg.__name__}.llm.text" in MODULES


@pytest.mark.parametrize("name", MODULES)
def test_all_exports_resolve(name):
    mod = importlib.import_module(name)
    exported = getattr(mod, "__all__", ())
    assert len(exported) == len(set(exported)), f"{name}: duplicate __all__ entries"
    missing = [e for e in exported if not hasattr(mod, e)]
    assert not missing, f"{name}.__all__ names missing attributes: {missing}"
