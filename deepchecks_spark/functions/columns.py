"""Column-name quoting and the (column, value) melt.

Every multi-column scan in the engine unpivots its columns into one long
(column, value) frame with a single ``stack`` — Catalyst prunes the scan
to exactly those columns, and one groupBy("column", ...) then serves all
of them. The melt is SQL text, so column names must be escaped twice
over: as identifiers (the value side) and as string literals (the label
side). Both escapes live here and nowhere else.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def quote_ident(name: str) -> str:
    """``name`` as a backticked SQL identifier (inner backticks doubled),
    so dots, spaces, ``::`` and quotes stay part of the name."""
    return "`" + name.replace("`", "``") + "`"


def sql_str(text: str) -> str:
    """``text`` as a single-quoted SQL string literal. Spark's parser
    consumes backslash escapes inside literals (``'a\\b'`` would read
    back as ``a`` + backspace), so backslashes are escaped first."""
    return "'" + text.replace("\\", "\\\\").replace("'", "\\'") + "'"


def melt(df: DataFrame, cols: list, cast: str | None = None,
         keep: tuple = ()) -> DataFrame:
    """``keep`` plus one (column, value) row per input row and column in
    ``cols``; ``value`` is cast to ``cast`` when given (stack needs one
    value type). ``keep`` entries are SQL expressions selected alongside
    the stack — quote real column names with :func:`quote_ident`."""
    def value(c):
        q = quote_ident(c)
        return q if cast is None else f"cast({q} as {cast})"

    pairs = ", ".join(f"{sql_str(c)}, {value(c)}" for c in cols)
    return df.selectExpr(*keep, f"stack({len(cols)}, {pairs}) as (column, value)")
