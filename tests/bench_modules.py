"""bench.py and the tools/bench_* scripts as importable modules, for
the pure bench tests (the repo root and tools/ are not packages)."""

from __future__ import annotations

import importlib
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(name: str):
    """Import ``bench`` or a ``tools/bench_*`` script by module name."""
    for d in (REPO, os.path.join(REPO, "tools")):
        if d not in sys.path:
            sys.path.insert(0, d)
    return importlib.import_module(name)
