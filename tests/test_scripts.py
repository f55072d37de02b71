"""The helper scripts under scripts/ import the package of their own
checkout, wherever that checkout lives."""

from __future__ import annotations

import importlib.util
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def _load(script: str, root: Path = ROOT):
    spec = importlib.util.spec_from_file_location(
        f"{script}_under_test", root / "scripts" / f"{script}.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_crosscheck_inserts_its_own_checkout_root(monkeypatch):
    monkeypatch.setattr(sys, "path", list(sys.path))
    mod = _load("crosscheck")
    assert sys.path[0] == str(ROOT)
    assert Path(mod.__file__).resolve().parents[1] == ROOT


def test_scale_sweep_uses_its_own_checkout_root(monkeypatch, tmp_path):
    """Loaded from a copy elsewhere, the sweep imports and reads from that
    copy, not from a fixed path."""
    (tmp_path / "scripts").mkdir()
    script = (ROOT / "scripts" / "scale_sweep.py").read_text(encoding="utf-8")
    (tmp_path / "scripts" / "scale_sweep.py").write_text(script, encoding="utf-8")
    monkeypatch.setattr(sys, "path", list(sys.path))
    monkeypatch.delenv("CROSSCHECK_SF_DIR", raising=False)
    mod = _load("scale_sweep", tmp_path)
    assert sys.path[0] == str(tmp_path)
    assert mod.SF_DIR == str(tmp_path / ".scaledata" / "sf1")
