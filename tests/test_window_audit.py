"""The correctness-window rotation (``queries._PRIORITY``) is current:
``tools/window_audit.py`` run with no arguments passes, so a rotation
left stale fails the suite instead of going unnoticed. No Spark session
is started."""

from __future__ import annotations

import importlib.util
import sys
from pathlib import Path

AUDIT = Path(__file__).resolve().parent.parent / "tools" / "window_audit.py"


def test_window_audit_passes_with_no_arguments(monkeypatch, capsys):
    spec = importlib.util.spec_from_file_location("window_audit", AUDIT)
    audit = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(audit)
    monkeypatch.setattr(sys, "argv", [str(AUDIT)])
    assert audit.main() == 0, capsys.readouterr().out
