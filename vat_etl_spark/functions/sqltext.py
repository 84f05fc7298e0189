"""Spark SQL text helpers for kernels rendered as one expression string.

A kernel written as SQL text reaches the JVM in one ``F.expr`` or
``selectExpr`` call; the same kernel built from Column objects pays one py4j
round trip per sub-expression. Inputs and outputs of such kernels are SQL
text: pass a column as :func:`ident`, a Python string as :func:`str_lit`.
"""

from __future__ import annotations


def ident(name: str) -> str:
    """A column name as a backquoted Spark SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def str_lit(s: str) -> str:
    """A Spark SQL string literal holding exactly ``s``: the parser unescapes
    backslashes, so a regex like ``[^0-9\\.]`` keeps its backslashes."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"
