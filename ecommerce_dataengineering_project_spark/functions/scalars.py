"""Scalar helpers (SURVEY §2b P10-P16, §2h).

Each wraps the exact semantics of a reference code path as a Column
expression so it stays inside whole-stage codegen — never a Python UDF.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: str | Column) -> Column:
    return F.col(col) if isinstance(col, str) else col


def round_half_up(col: str | Column, scale: int = 2) -> Column:
    """Engine-independent rounding: ``floor(x*10^s + 0.5) / 10^s``.

    Spark's ``round()`` on doubles rounds the shortest-decimal
    representation (JVM ``BigDecimal.valueOf``) while DuckDB/Postgres
    round the exact binary value — they disagree on ~1e-4 of rows. This
    explicit form evaluates bit-identically on any IEEE-754 engine, so
    oracle checks are exact. Ties round toward +infinity.
    """
    p = float(10**scale)
    return F.floor(_c(col) * F.lit(p) + F.lit(0.5)) / F.lit(p)


def sql_round_half_up(expr: str, scale: int = 2) -> str:
    """The ANSI-SQL rendering of :func:`round_half_up` (for oracles)."""
    p = float(10**scale)
    return f"FLOOR(({expr}) * {p} + 0.5) / {p}"


def bool_from_string(col: str | Column) -> Column:
    """``str(v).lower() == "true"`` (P14, producer.py:199-200)."""
    return F.lower(_c(col).cast("string")) == F.lit("true")


def conditional_price(flag: str | Column, price: float) -> Column:
    """``price if flag else 0.0`` (P15/P16, producer.py:128-141)."""
    return F.when(_c(flag), F.lit(float(price))).otherwise(F.lit(0.0))


def starts_with_any(col: str | Column, prefixes: list[str]) -> Column:
    """Prefix-set membership (P13, producer.py:220-224).

    Expressed as substring-isin so it stays a single codegen'd
    comparison when prefixes share a length; falls back to OR-chain
    otherwise.
    """
    lens = {len(p) for p in prefixes}
    c = _c(col)
    if len(lens) == 1:
        n = lens.pop()
        return F.substring(c, 1, n).isin(prefixes)
    out = F.lit(False)
    for p in prefixes:
        out = out | c.startswith(p)
    return out


def stable_id(*cols: str | Column) -> Column:
    """Deterministic row id (hash surface, producer.py:145).

    The reference uses ``abs(hash(transaction_time))`` — Python's
    process-salted hash, non-reproducible. At scale you want a stable,
    collision-resistant id, so this uses sha2-256 over the concatenated
    key columns (xxhash64 would be faster but isn't oracle-checkable
    across engines).
    """
    return F.sha2(F.concat_ws("\x1f", *[_c(c).cast("string") for c in cols]), 256)
