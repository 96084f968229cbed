"""Every name a package module exports in ``__all__`` resolves."""

from __future__ import annotations

import importlib
import pkgutil

import pytest

import sssom_curator_spark

MODULES = ["sssom_curator_spark"] + sorted(
    m.name
    for m in pkgutil.walk_packages(sssom_curator_spark.__path__, "sssom_curator_spark.")
)


def test_modules_found():
    assert "sssom_curator_spark.io.sssom_tsv" in MODULES


@pytest.mark.parametrize("name", MODULES)
def test_all_names_resolve(name):
    module = importlib.import_module(name)
    missing = [n for n in getattr(module, "__all__", []) if not hasattr(module, n)]
    assert missing == [], missing
