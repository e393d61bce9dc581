"""Every ``scripts/*.py`` module imports cleanly: a script that imports a
deleted or renamed module fails here, not on its next manual run. Each
script keeps its work behind a ``__main__`` guard."""

from __future__ import annotations

import glob
import importlib.util
import os
import sys

import pytest

SCRIPTS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts")


@pytest.mark.parametrize(
    "path", sorted(glob.glob(os.path.join(SCRIPTS, "*.py"))), ids=os.path.basename
)
def test_script_imports(path):
    name = os.path.splitext(os.path.basename(path))[0]
    spec = importlib.util.spec_from_file_location(f"scripts_{name}", path)
    mod = importlib.util.module_from_spec(spec)
    sys.modules[spec.name] = mod  # dataclasses resolve their module by name
    spec.loader.exec_module(mod)
