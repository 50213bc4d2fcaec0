"""The benchmark's trace hook (``perfbench/layers.py``) wraps repo entry
points by name, so renaming one of them breaks ``--trace 1`` runs with
an ``AttributeError``.  This pins every wrapped name; no Spark needed."""

from __future__ import annotations

import importlib
import importlib.util
import os

import pytest

_LAYERS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench", "layers.py")


def _entry_points():
    spec = importlib.util.spec_from_file_location("perfbench_layers", _LAYERS)
    layers = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(layers)
    return [
        (modname, owner, name)
        for _, modname, owner, names in layers.ENTRY_POINTS
        for name in names
    ]


@pytest.mark.parametrize("modname,owner,name", _entry_points())
def test_traced_entry_point_resolves(modname, owner, name):
    target = importlib.import_module(modname)
    if owner is not None:
        target = getattr(target, owner)
    assert callable(getattr(target, name))
