"""Cross-engine canonical wire representation for query outputs.

The driver compares Spark results against DuckDB oracles by hashing
stringified values.  Fractional numerics are representation hazards: the two
engines (and the driver's fetch path — e.g. pandas coercing DECIMAL/HUGEINT
to float64) can print the *same* value differently (``1234.5`` vs
``1234.50``), failing the hash while every value is numerically equal.  This
mirrors the reference wire format, which also serializes decimals as strings
(reference README.md:324 — Debezium emits DECIMAL(10,2) as a string on the
JSON wire; create-starrocks-tables.sh:21).

Canonical rule, applied symmetrically to BOTH engines' final projections:

- DECIMAL / DOUBLE / FLOAT  ->  CAST(... AS DECIMAL(38,6)) -> string.
  Doubles are ROUND()ed to scale 6 first; both engines round ties away from
  zero (verified: Spark HALF_UP == DuckDB ROUND on doubles).  Decimal inputs
  always have scale <= 6 in this repo, so the widening cast is exact — this
  matters because DuckDB's decimal *down*scale cast disagrees with Spark's
  HALF_UP (verified empirically), so the oracle rewriter ROUND()s first when
  it ever meets scale > 6.
- BOOLEAN -> INT (0/1): sidesteps True/true/1 canonicalizer ambiguity.
- HUGEINT (DuckDB SUM over ints) -> BIGINT: pandas fetch of HUGEINT coerces
  to float64 ("6.0" vs "6").

Everything else (ints, strings, dates, timestamps) passes through untouched.

The Spark side is schema-driven (``canon_df``); the DuckDB side rewrites the
oracle SQL by DESCRIBE-ing it once against tiny fixtures (``canon_oracle``).
Both are applied at registry level (operators/__init__.py), so individual
query functions keep their natural typed outputs for library users.
"""

from __future__ import annotations

import re

from ..catalog import TABLES

CANON_SCALE = 6

_DEC_RE = re.compile(r"DECIMAL\((\d+),(\d+)\)", re.IGNORECASE)


def canon_df(df):
    """Rewrite a Spark DataFrame's fractional/boolean columns to wire canon."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    exprs = []
    changed = False
    for f in df.schema.fields:
        c = F.col(f"`{f.name}`")
        dt = f.dataType
        if isinstance(dt, T.DecimalType):
            if dt.scale > CANON_SCALE:
                # Match the oracle path: explicit away-from-zero rounding,
                # never DuckDB's divergent downscale-cast semantics.
                c = F.round(c, CANON_SCALE)
            exprs.append(
                c.cast(f"decimal(38,{CANON_SCALE})").cast("string").alias(f.name)
            )
            changed = True
        elif isinstance(dt, (T.DoubleType, T.FloatType)):
            exprs.append(
                F.round(c.cast("double"), CANON_SCALE)
                .cast(f"decimal(38,{CANON_SCALE})")
                .cast("string")
                .alias(f.name)
            )
            changed = True
        elif isinstance(dt, T.BooleanType):
            exprs.append(c.cast("int").alias(f.name))
            changed = True
        else:
            exprs.append(c.alias(f.name))
    return df.select(*exprs) if changed else df


def wrap_query(fn):
    """Registry decorator: apply canon_df to a query callable's result."""

    def wrapped(spark, sf_dir, _fn=fn):
        return canon_df(_fn(spark, sf_dir))

    wrapped.__name__ = getattr(fn, "__name__", "query")
    wrapped.__doc__ = fn.__doc__
    wrapped.__wrapped__ = fn
    return wrapped


_IDENT_RE = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def _canon_col_sql(name: str, duck_type: str) -> str:
    """Canonical projection expression for one described column.

    Emitted SQL is deliberately dual-dialect (DuckDB AND Spark SQL both
    parse it — tests/test_sql_api.py runs these oracles through spark.sql):
    ``STRING`` is a type alias in both engines, and simple identifiers need
    no quoting in either.
    """
    if not _IDENT_RE.fullmatch(name):
        raise ValueError(f"non-identifier column name {name!r} in oracle output")
    t = duck_type.upper()
    m = _DEC_RE.match(t)
    if m:
        scale = int(m.group(2))
        inner = name if scale <= CANON_SCALE else f"ROUND({name}, {CANON_SCALE})"
        return f"CAST(CAST({inner} AS DECIMAL(38,{CANON_SCALE})) AS STRING) AS {name}"
    if t in ("DOUBLE", "FLOAT", "REAL"):
        return (
            f"CAST(CAST(ROUND(CAST({name} AS DOUBLE), {CANON_SCALE}) "
            f"AS DECIMAL(38,{CANON_SCALE})) AS STRING) AS {name}"
        )
    if t == "BOOLEAN":
        return f"CAST({name} AS INT) AS {name}"
    if t == "HUGEINT":
        return f"CAST({name} AS BIGINT) AS {name}"
    return name


def canon_oracle(sql: str, described: list[tuple[str, str]]) -> str:
    """Wrap an oracle SQL so fractional/bool/hugeint columns emit wire canon.

    ``described`` is DESCRIBE output: [(column_name, duck_type), ...].
    Returns the original SQL unchanged when no column needs rewriting.
    """
    if not any(
        _DEC_RE.match(t.upper())
        or t.upper() in ("DOUBLE", "FLOAT", "REAL", "BOOLEAN", "HUGEINT")
        for _, t in described
    ):
        return sql
    cols = ", ".join(_canon_col_sql(n, t) for n, t in described)
    return f"SELECT {cols} FROM ({sql.rstrip().rstrip(';')}) AS __canon"


def canonize_oracles(oracles: dict[str, str], fixture_dir: str) -> dict[str, str]:
    """DESCRIBE each oracle against tiny fixtures and wrap as needed.

    DESCRIBE is plan-only (LIMIT-0 semantics) so this is cheap; output types
    do not depend on scale factor, so the smallest fixture dir suffices.
    """
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{fixture_dir}/{t}.parquet')"
        )
    out = {}
    for name, sql in oracles.items():
        described = [(r[0], r[1]) for r in con.execute(f"DESCRIBE {sql}").fetchall()]
        out[name] = canon_oracle(sql, described)
    con.close()
    return out
