"""The md5 draw, in both Spark and DuckDB dialects.

Every deterministic draw, bucket and order in the engine comes from an
md5 hex digest, which Spark and DuckDB compute identically.  Two rules
turn a digest into something an operator can use, and both are declared
here once per dialect so an operator and its DuckDB twin cannot drift:

- :func:`hex_int` / :func:`hex_int_sql`: the BIGINT value of hex digits
  ``[start, start + n)`` (1-based) of a hex string.  At most 15 digits
  (60 bits), because 16 would overflow a signed BIGINT in both engines.
- :func:`salted_md5` / :func:`salted_md5_sql`: the md5 of
  ``salt:key``, with a NULL key hashed as ``''``.  Spark's
  ``concat_ws`` skips a NULL argument while DuckDB's ``concat`` keeps
  the separator, so the key is coalesced explicitly on both sides.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _check_digits(start: int, n: int) -> None:
    if start < 1 or not 1 <= n <= 15:
        raise ValueError(
            f"hex digits must start at >= 1 and number 1..15 (16 overflow a "
            f"signed BIGINT), got start={start}, n={n}"
        )


def hex_int(h: Column, start: int, n: int) -> Column:
    """BIGINT value of hex digits ``[start, start + n)`` of ``h``."""
    _check_digits(start, n)
    return F.conv(F.substring(h, start, n), 16, 10).cast("bigint")


def hex_int_sql(h: str, start: int, n: int) -> str:
    """DuckDB rendering of :func:`hex_int`."""
    _check_digits(start, n)
    return f"CAST(('0x' || substr({h}, {start}, {n})) AS BIGINT)"


def salted_md5(salt: Column, key: Column) -> Column:
    """md5 hex of ``salt:key``; a NULL key hashes as ``''``.  The salt is
    used as given (a literal, or an already-coalesced column)."""
    return F.md5(F.concat_ws(":", salt, F.coalesce(key.cast("string"), F.lit(""))))


def salted_md5_sql(salt: str, key: str) -> str:
    """DuckDB rendering of :func:`salted_md5`; ``salt`` and ``key`` are
    SQL expressions."""
    return f"md5(concat({salt}, ':', COALESCE(CAST({key} AS VARCHAR), '')))"
