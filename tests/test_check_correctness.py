"""tools/check_correctness.py refuses entry names the catalog does not
have, instead of running the rest and reporting no failures."""

from __future__ import annotations

import os
import subprocess
import sys

from conftest import SF_SMOKE

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_unknown_entry_names_fail_before_any_run():
    tool = os.path.join(ROOT, "tools", "check_correctness.py")
    res = subprocess.run(
        [sys.executable, tool, SF_SMOKE, "no_such_entry", "bloom_build_invariants", "zz_retired"],
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert res.returncode != 0
    assert "unknown entries (not in the catalog): no_such_entry zz_retired" in res.stdout
    # nothing ran: the known name was not checked either
    assert "PASS" not in res.stdout and "failures" not in res.stdout
