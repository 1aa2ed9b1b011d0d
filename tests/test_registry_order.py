"""The registry's key order is part of the query surface: consumers
sample a prefix of it, so moving a query between modules (which changes
import order) must not reorder it. The frozen list in
registry_keys.txt is the order of all 268 registered queries."""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_registry_key_order_is_frozen():
    # a fresh interpreter, as a consumer sees it: queries register on
    # import, and inside the test session other test modules have
    # already imported query modules in a different order
    out = subprocess.run(
        [sys.executable, "-c", "from voz_spark.registry import all_queries; print(*all_queries())"],
        cwd=ROOT, capture_output=True, text=True, check=True, timeout=300,
    ).stdout.split()
    with open(os.path.join(ROOT, "tests", "registry_keys.txt")) as f:
        frozen = f.read().split()
    assert len(frozen) == 268
    assert out == frozen
