"""Boundary parsing: strings → typed columns.

The reference transports everything as strings — SEC HTML cells yield
formatted numeric strings like ``1,234,567.00`` and ISO date strings
that are never parsed (``ETFQuarterlyHoldingsExtractor.py:102,117,122,
127``; no astype/to_numeric anywhere). The engine parses at the
boundary (SURVEY.md §1.2) so joins/aggs/windows downstream are typed.

All of these are pure Column expressions (JVM-side, codegen'd) — no
Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def parse_money(c: Column | str) -> Column:
    """``"1,234,567.89"`` → decimal(38,6).

    Thousands separators stripped (reference transports them raw,
    :117/:122); try_cast keeps the reference's null-tolerant semantics
    (unparseable cell → null, not job failure) under ANSI mode.
    """
    return F.regexp_replace(F.trim(_col(c)), ",", "").try_cast("decimal(38,6)")


