"""O(1)-py4j literal array builders.

``F.lit(list)`` builds ``array(lit(x), lit(x), ...)`` with one py4j round
trip PER ELEMENT (~0.6 ms each on a 4-core host): a 63x64 codebook
literal costs ~3.3 s of pure driver time per construction. These helpers
emit the SAME expression through one ``F.expr`` call — a single py4j
round trip parsing an ``array(...)`` SQL string, measured ~240x faster
at codebook size.

Bit-exactness: ``repr(float)`` is the shortest string that round-trips
under correctly-rounded decimal->binary conversion, and Spark's SQL
parser routes double literals through Java's correctly-rounded
``Double.parseDouble`` — so ``expr(repr(x) + "D")`` reconstructs exactly
x's IEEE-754 bits for every finite double, including -0.0 and
subnormals. Verified bit-for-bit against ``F.lit`` in
tests/test_round14_opt.py. Non-finite values (inf/nan) have no SQL
literal spelling and are rejected loudly — no caller ships them
(codebooks/query vectors come from finite parquet data).

After constant folding the optimized plan is byte-identical to the
``F.lit`` form (both are CreateArray-of-Literal trees folded to one
array Literal), so plan fingerprints and driver hashes are untouched.

Empty input is a legal value: every builder then emits a TYPED empty
array, ``CAST(array() AS ARRAY<t>)``, so an empty codebook analyzes and
flows through the same plan as a non-empty one (bare SQL ``array()`` is
an array of VOID, on which element and field access fail analysis).
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F


def sql_double(x: float) -> str:
    """SQL text of one double literal, exact to the bit."""
    x = float(x)
    if not math.isfinite(x):
        raise ValueError(f"non-finite double has no SQL literal: {x!r}")
    return repr(x) + "D"


def sql_str(s: str) -> str:
    """SQL text of one string literal: single quotes around ``s`` with its
    backslashes and single quotes escaped, so it parses back to ``s``."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _l(x: int) -> str:
    return f"{int(x)}L"


def sql_array(items, elem_type: str) -> str:
    """SQL text of an array of the element SQL texts ``items``; for no
    items, the typed empty array of ``elem_type`` (a SQL type name)."""
    items = list(items)
    if not items:
        return f"CAST(array() AS ARRAY<{elem_type}>)"
    return "array(" + ",".join(items) + ")"


def sql_doubles(vals) -> str:
    """SQL text of a non-empty array<double> literal — for callers
    composing a LARGER one-parse expression string. Empty input is
    rejected: a caller slicing vectors into such a string has lost a
    dimension, which an empty literal would hide; typed empty arrays
    come from ``sql_array([], "DOUBLE")`` or ``lit_doubles([])``."""
    vals = list(vals)
    if not vals:
        raise ValueError(
            "sql_doubles([]) has no elements; use sql_array([], 'DOUBLE') "
            "or lit_doubles([]) for a typed empty array"
        )
    return sql_array(map(sql_double, vals), "DOUBLE")


def lit_doubles(vals) -> Column:
    """array<double> literal in one expr call."""
    return F.expr(sql_array(map(sql_double, vals), "DOUBLE"))


def lit_double_matrix(rows) -> Column:
    """array<array<double>> literal in one expr call."""
    return F.expr(
        sql_array((sql_array(map(sql_double, r), "DOUBLE") for r in rows), "ARRAY<DOUBLE>")
    )


def lit_longs(vals) -> Column:
    """array<bigint> literal in one expr call."""
    return F.expr(sql_array(map(_l, vals), "BIGINT"))


def lit_long_matrix(rows) -> Column:
    """array<array<bigint>> literal in one expr call."""
    return F.expr(
        sql_array((sql_array(map(_l, r), "BIGINT") for r in rows), "ARRAY<BIGINT>")
    )
