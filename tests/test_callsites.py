"""The call-site scan (tools/callsites.py) reports no unexplained entry."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools import callsites  # noqa: E402


def test_uncalled_functions_are_explained():
    """Every package function that nothing outside tests/ refers to has a
    reason in callsites.ALLOWED, and every ALLOWED entry is still one."""
    found = callsites.scan()
    assert sorted(set(found) - set(callsites.ALLOWED)) == []
    assert sorted(set(callsites.ALLOWED) - set(found)) == []
    assert all(r.strip() and "\n" not in r for r in callsites.ALLOWED.values())


def test_scan_sees_an_uncalled_function(tmp_path, monkeypatch):
    """A top-level function referred to only by its own body is reported;
    one referred to from another scanned file, or as a bare name, is not."""
    pkg = tmp_path / callsites.PACKAGE
    pkg.mkdir()
    (pkg / "m.py").write_text(
        "def dead(n):\n    return dead(n - 1)\n\n"
        "def called():\n    pass\n\n"
        "def registered():\n    pass\n\nREG = {'r': registered}\n"
    )
    (tmp_path / "bench.py").write_text("import m\nm.called()\n")
    monkeypatch.setattr(callsites, "ROOT", str(tmp_path))
    assert callsites.scan() == {f"{callsites.PACKAGE}.m:dead": 1}
