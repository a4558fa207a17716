"""Python mirrors of the engine's portable integer kernels, shared by the
exact-replay tests: the md5-derived hash family and truncating integer
division.
"""

from __future__ import annotations

import hashlib


def _phash32(s: str, seed: str) -> int:
    return int(hashlib.md5(f"{seed}:{s}".encode()).hexdigest()[:8], 16)


def _tdiv(a: int, b: int) -> int:
    """Truncate-toward-zero integer division (Spark div / DuckDB //)."""
    q = abs(a) // abs(b)
    return q if (a >= 0) == (b >= 0) else -q
