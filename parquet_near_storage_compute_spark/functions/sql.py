"""Spark SQL literal and identifier rendering.

The predicate grammar and the text / vector expression helpers build Spark
SQL text instead of ``Column`` trees: a text expression crosses the
Python↔JVM boundary once (one ``F.expr`` or ``selectExpr``), where a
``Column`` tree pays several py4j round trips per node. Every renderer
here writes text that Spark types exactly as ``F.lit`` / ``F.col`` would,
so the analyzed plan is the one the ``Column`` tree gave.

Helpers that take a lambda name its variables with a leading underscore
(``_x -> ...``, ``_i``, ``_c``, ``_w``, ``_acc``): inside a lambda body a
lambda variable shadows a column of the same name. Operand text spliced
into a lambda body (the ``ws`` / ``text`` of ``text.shingles`` and
``text.char_ngrams``, the vector columns of ``similarity._ranked_cells``'
score) must therefore not name a column that matches one of those
variables. Columns with other leading-underscore names (``_salt``,
``_mhd{g}``, ...) are safe.
"""

from __future__ import annotations

import math


def sql_string(text: str) -> str:
    """Single-quoted Spark SQL string literal whose value is ``text``."""
    return "'" + text.replace("\\", "\\\\").replace("'", "\\'") + "'"


def sql_name(name: str) -> str:
    """One back-quoted name, dots included (an alias is never a path)."""
    return "`" + name.replace("`", "``") + "`"


def sql_ident(name: str) -> str:
    """Column reference resolved like ``F.col(name)``: a dotted name is a
    nested-field path, each part back-quoted."""
    return ".".join(sql_name(part) for part in name.split("."))


def sql_double(value: float | str) -> str:
    """DOUBLE literal, like ``F.lit(float)``: a bare ``1.5`` is DECIMAL in
    Spark SQL, so the text carries the ``D`` suffix. ``value`` is a finite
    float or the decimal text of one (kept as written)."""
    if isinstance(value, str):
        return f"{value}D"
    if not math.isfinite(value):
        raise ValueError(f"no SQL literal for {value!r}")
    return f"{value!r}D"
