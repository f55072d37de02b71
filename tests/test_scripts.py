"""The helper scripts under scripts/ import the package of their own
checkout, wherever that checkout lives."""

from __future__ import annotations

import importlib.util
import sys
from pathlib import Path


def test_crosscheck_inserts_its_own_checkout_root(monkeypatch):
    root = Path(__file__).resolve().parents[1]
    monkeypatch.setattr(sys, "path", list(sys.path))
    spec = importlib.util.spec_from_file_location(
        "crosscheck_under_test", root / "scripts" / "crosscheck.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert sys.path[0] == str(root)
    assert Path(mod.__file__).resolve().parents[1] == root
