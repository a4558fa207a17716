"""Python mirrors of the engine's portable kernels, shared by the
exact-replay tests: the md5-derived hash family, truncating integer
division, the quantized log, whitespace tokenization and half-up rounding.
"""

from __future__ import annotations

import decimal
import hashlib
import math


def _phash32(s: str, seed: str) -> int:
    return int(hashlib.md5(f"{seed}:{s}".encode()).hexdigest()[:8], 16)


def _tdiv(a: int, b: int) -> int:
    """Truncate-toward-zero integer division (Spark div / DuckDB //)."""
    q = abs(a) // abs(b)
    return q if (a >= 0) == (b >= 0) else -q


def _qln(x: float) -> int:
    # round-half-even matches both engines' round() on doubles at this
    # magnitude (the repo-wide quantized-log idiom)
    v = math.log(x) * 1e6
    return int(round(v))


def _words(text: str) -> list[str]:
    return [w for w in text.lower().split() if w]


def _round_half_up(v: float) -> float:
    return float(
        decimal.Decimal(repr(v)).quantize(0, rounding=decimal.ROUND_HALF_UP)
    )
