"""Quoting and literal rules for Spark SQL text.

Builders that compose one SQL string per stage (one JVM parse instead of a
py4j round trip per Column node) paste every column NAME through
:func:`ident` and every float or string literal through :func:`double_lit` /
:func:`string_lit`, so any name ``F.col`` accepts and any value ``F.lit``
accepts parses. `` `x` `` and ``x`` parse to the same tree, so quoting
never changes a plan. Parameters named ``*_expr`` are expression text and
are pasted as-is. DuckDB oracle text is another dialect with its own rules.
"""

from __future__ import annotations

import math


def ident(name: str) -> str:
    """A column name as a backtick-quoted identifier; embedded backticks
    are doubled (Spark's escape inside a quoted identifier)."""
    return "`" + name.replace("`", "``") + "`"


def double_lit(x: float) -> str:
    """A float as DOUBLE literal text. ``repr`` + ``D`` pins finite values
    to DOUBLE (a bare ``59.0`` parses as DECIMAL(3,1) and changes
    comparison type promotion); non-finite values have no literal form
    (``repr`` gives ``inf``/``nan``), so they use the ``double()``
    constructor, as ``F.lit(float)`` does."""
    v = float(x)
    if math.isinf(v):
        return "double('-Infinity')" if v < 0 else "double('Infinity')"
    if math.isnan(v):
        return "double('NaN')"
    return f"{v!r}D"


def string_lit(s: str) -> str:
    """A string as a single-quoted literal: backslash and quote are
    backslash-escaped (Spark unescapes ``\\x`` sequences in literals, so
    an unescaped ``\\%`` or ``\\n`` in corpus text would change)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"
