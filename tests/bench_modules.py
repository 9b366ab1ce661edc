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


HOST = {"nproc": 4, "ram_gb": 15.7, "parallelism": 4, "sf": 0.1}


def reading(rows: dict[str, tuple[float, float]], host: dict | None = HOST) -> dict:
    """A synthetic bench reading: {row: (min wall s, min CPU s)} under
    the headline recording key, on ``host``."""
    return {"queries": {n: w for n, (w, _) in rows.items()},
            "query_cpu": {n: c for n, (_, c) in rows.items()}, "host": host}


def pins_doc(rows: dict[str, tuple[float, float]], host: dict = HOST) -> dict:
    """A host-keyed pins doc pinning ``rows`` at (wall, cpu) on ``host``."""
    bench = load("bench")
    return {"tripwire": 1.5, "band_low": 1.2, "hosts": {bench.host_key(host): {
        "host": host,
        "pins": {n: {"wall": w, "cpu": c} for n, (w, c) in rows.items()}}}}
