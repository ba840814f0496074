"""The reference's mini predicate / aggregation grammar → Spark ``Column``.

Re-expresses the v1 query language (tokenizer ``v1/src/main.rs:440-464``,
recursive-descent parser ``:479-587``, aggregation parser ``:1209-1232``) as a
~150-line translator. The parser emits ONE Spark SQL expression string per
predicate (and per aggregation), wrapped in a single ``F.expr``: the text
crosses the Python↔JVM boundary once per expression, where a ``Column``
tree built from ``F.col`` / ``F.lit`` / operator calls crosses it about a
dozen times per node (py4j calls plus call-site capture), which made
parsing a measurable share of a short scan's latency. The analyzed plan is
the same as that of the equivalent ``Column`` tree (``tests/test_grammar.py``
checks it per literal kind and construct), so everything downstream —
predicate pushdown, row-group pruning, NOT-normalization (De Morgan),
constant folding — is still handled by the optimizer; the reference
implements each of those by hand (``v1/src/main.rs:626-685`` pruning,
``:663-684`` NOT pushdown).

Grammar (same precedence as the reference: OR < AND < NOT < parens):

    expr     := or_expr
    or_expr  := and_expr (OR and_expr)*
    and_expr := not_expr (AND not_expr)*
    not_expr := NOT not_expr | '(' expr ')' | comparison
    comparison := IDENT op literal | literal op IDENT
    op       := '<' | '<=' | '==' | '=' | '!=' | '>=' | '>'

Every binary node is parenthesized in the emitted text, so Spark's parser
keeps the left-deep tree the grammar builds.

Literal typing follows v1's inference order (``v1/src/main.rs:556-587``):
ISO datetime ``%Y-%m-%d-%H:%M:%S`` → timestamp, ``true``/``false`` → boolean,
contains ``.`` → float, all digits → int, otherwise (quoted or bare) → string.
Each is written so Spark types it exactly as ``F.lit`` would: floats carry
the ``D`` suffix (a bare ``1.5`` is DECIMAL in Spark SQL), ints stay plain
integer literals (INT, or BIGINT past 32 bits), strings are single-quoted
with ``'`` and backslash escaped, datetimes go through ``to_timestamp``.

The five comparison ops of v1 (``Comparison`` enum ``v1/src/main.rs:418-438``)
are extended with ``!=`` for engine completeness.

The same parse (``plan_predicate``, no Spark session) yields what the v2
byte model needs: the columns named, and the comparisons row-group min/max
statistics can prune, as ``(column, op, literal)`` — ``col op lit`` or
``lit op col`` with op in ``< <= = == >= >``, ``BETWEEN`` as two bounds,
under top-level ANDs at any parenthesis depth but never under OR or NOT,
with an int, float or string literal (the kinds ``pushFilters`` keeps in
``sources/pyds.py``) on a top-level column.

Aggregations: ``OP(column)`` for OP in SUM/AVG/MIN/MAX/COUNT
(``parse_aggregation`` ``v1/src/main.rs:1209-1232``), emitted as
``op(`column`) AS `alias```. COUNT follows v1's non-null-count semantics
(``.iter().flatten()`` at ``v1/src/main.rs:1517``) which is exactly Spark's
``count(col)``.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from typing import NamedTuple

from pyspark.sql import Column
from pyspark.sql import functions as F

from parquet_near_storage_compute_spark.functions.sql import (
    sql_double,
    sql_ident,
    sql_name,
    sql_string,
)

_TOKEN_RE = re.compile(
    r"""\s*(?:
        (?P<lparen>\() |
        (?P<rparen>\)) |
        (?P<comma>,) |
        (?P<op><=|>=|==|!=|=|<|>) |
        (?P<squoted>'(?:[^'\\]|\\.)*') |
        (?P<dquoted>"(?:[^"\\]|\\.)*") |
        (?P<word>[A-Za-z0-9_.:\-]+)
    )""",
    re.VERBOSE,
)

_DATETIME_RE = re.compile(r"^\d{4}-\d{2}-\d{2}-\d{2}:\d{2}:\d{2}$")
_INT_RE = re.compile(r"^-?\d+$")
_FLOAT_RE = re.compile(r"^-?\d+\.\d*$|^-?\.\d+$")


@dataclass
class _Token:
    kind: str  # lparen | rparen | op | word | string
    text: str


def _tokenize(s: str) -> list[_Token]:
    tokens: list[_Token] = []
    pos = 0
    while pos < len(s):
        m = _TOKEN_RE.match(s, pos)
        if not m or m.end() == pos:
            if s[pos:].strip() == "":
                break
            raise ValueError(f"cannot tokenize predicate at: {s[pos:]!r}")
        pos = m.end()
        kind = m.lastgroup
        text = m.group(kind)
        if kind in ("squoted", "dquoted"):
            tokens.append(_Token("string", text[1:-1]))
        else:
            tokens.append(_Token(kind, text))
    return tokens


def _literal(tok: _Token) -> tuple[str, int | float | str | None]:
    """Typed literal inference, v1 order: datetime → bool → float → int → str.
    Returns the SQL text, written so Spark types it exactly as ``F.lit``
    types the Python value, and the value the byte model prunes on (None
    for datetime and boolean, which never prune)."""
    if tok.kind == "string":
        return sql_string(tok.text), tok.text
    t = tok.text
    if _DATETIME_RE.match(t):
        # v1 parses "%Y-%m-%d-%H:%M:%S" into epoch-millis Int64
        # (v1/src/main.rs:589-595); we emit a proper timestamp literal so
        # Catalyst can still push the comparison down to Parquet.
        return f"to_timestamp({sql_string(t)}, 'yyyy-MM-dd-HH:mm:ss')", None
    low = t.lower()
    if low in ("true", "false"):
        return low, None
    if _FLOAT_RE.match(t):
        # DOUBLE, like F.lit(float): an unsuffixed 1.5 is DECIMAL in SQL
        return sql_double(t), float(t)
    if _INT_RE.match(t):
        # INT, or BIGINT past 32 bits — the py4j typing of F.lit(int)
        return str(int(t)), int(t)
    return sql_string(t), t


#: grammar comparator → Spark SQL comparator
_OPS = {"<": "<", "<=": "<=", "==": "=", "=": "=", "!=": "!=", ">=": ">=", ">": ">"}

#: grammar comparator → the byte model's comparator, for the prunable ones
_PRUNE_OPS = {"<": "<", "<=": "<=", "==": "==", "=": "==", ">=": ">=", ">": ">"}

#: a (column, op, literal) comparison the row-group statistics can prune on
Comparison = tuple[str, str, object]


class Predicate(NamedTuple):
    """One parse of a predicate string."""

    sql: str  # the Spark SQL text ``parse_predicate`` wraps
    prunable: tuple[Comparison, ...]  # the top-level AND's prunable comparisons
    columns: frozenset[str]  # every column the predicate names


def _prunable(col: str, op: str, value) -> list[Comparison]:
    if op not in _PRUNE_OPS or value is None or "." in col:
        return []
    return [(col, _PRUNE_OPS[op], value)]


class _Parser:
    """Recursive descent over the tokens; every production returns Spark
    SQL text, with each binary node parenthesized (Spark's parser would
    otherwise rebalance a chain of four or more ANDs or ORs), and the
    prunable comparisons that text implies on its own (an AND keeps both
    sides', an OR or NOT none). Named columns collect in ``columns``."""

    def __init__(self, tokens: list[_Token]):
        self.tokens = tokens
        self.pos = 0
        self.columns: set[str] = set()

    def peek(self) -> _Token | None:
        return self.tokens[self.pos] if self.pos < len(self.tokens) else None

    def next(self) -> _Token:
        tok = self.peek()
        if tok is None:
            raise ValueError("unexpected end of predicate")
        self.pos += 1
        return tok

    def parse(self) -> Predicate:
        text, prunable = self.or_expr()
        if self.peek() is not None:
            raise ValueError(f"trailing tokens at {self.peek().text!r}")
        return Predicate(text, tuple(prunable), frozenset(self.columns))

    def or_expr(self) -> tuple[str, list[Comparison]]:
        left, prunable = self.and_expr()
        while (t := self.peek()) and t.kind == "word" and t.text.lower() == "or":
            self.next()
            left, prunable = f"({left} OR {self.and_expr()[0]})", []
        return left, prunable

    def and_expr(self) -> tuple[str, list[Comparison]]:
        left, prunable = self.not_expr()
        while (t := self.peek()) and t.kind == "word" and t.text.lower() == "and":
            self.next()
            right, more = self.not_expr()
            left, prunable = f"({left} AND {right})", prunable + more
        return left, prunable

    def not_expr(self) -> tuple[str, list[Comparison]]:
        t = self.peek()
        if t and t.kind == "word" and t.text.lower() == "not":
            self.next()
            return f"(NOT {self.not_expr()[0]})", []
        if t and t.kind == "lparen":
            self.next()
            inner = self.or_expr()
            if self.next().kind != "rparen":
                raise ValueError("expected ')'")
            return inner
        return self.comparison()

    def comparison(self) -> tuple[str, list[Comparison]]:
        left = self.next()
        op = self.peek()
        # extended predicates (beyond the reference's five comparators):
        #   col IN (v1, v2, ...) | col BETWEEN lo AND hi | col LIKE 'pat%'
        if op is not None and op.kind == "word":
            kw = op.text.lower()
            if kw == "in":
                self.next()
                self.columns.add(left.text)
                return self._in_list(left), []
            if kw == "between":
                self.next()
                (lo, lo_v), and_tok, (hi, hi_v) = (
                    _literal(self.next()), self.next(), _literal(self.next())
                )
                if not (and_tok.kind == "word" and and_tok.text.lower() == "and"):
                    raise ValueError("expected AND in BETWEEN")
                # written out as Column.between builds it: SQL BETWEEN
                # analyzes to a different (runtime-replaceable) node
                self.columns.add(left.text)
                col = sql_ident(left.text)
                return (
                    f"({col} >= {lo} AND {col} <= {hi})",
                    _prunable(left.text, ">=", lo_v) + _prunable(left.text, "<=", hi_v),
                )
            if kw == "like":
                self.next()
                pat = self.next()
                self.columns.add(left.text)
                return f"({sql_ident(left.text)} LIKE {sql_string(pat.text)})", []
        op = self.next()
        if op.kind != "op":
            raise ValueError(f"expected comparison operator, got {op.text!r}")
        right = self.next()
        left_is_col = left.kind == "word" and not _is_literal_word(left)
        if left_is_col:
            col, lit, cmp = left, right, op.text
        else:
            # literal OP column — flip to keep the column on the left
            flipped = {"<": ">", "<=": ">=", ">": "<", ">=": "<="}
            col, lit, cmp = right, left, flipped.get(op.text, op.text)
        self.columns.add(col.text)
        text, value = _literal(lit)
        return (
            f"({sql_ident(col.text)} {_OPS[cmp]} {text})",
            _prunable(col.text, cmp, value),
        )

    def _in_list(self, col_tok: _Token) -> str:
        if self.next().kind != "lparen":
            raise ValueError("expected '(' after IN")
        values = []
        while True:
            tok = self.next()
            if tok.kind == "rparen":
                break
            if tok.kind == "comma":
                continue
            if tok.kind in ("word", "string"):
                values.append(_literal(tok)[0])
            else:
                raise ValueError(f"unexpected token in IN list: {tok.text!r}")
        if not values:
            raise ValueError("empty IN list")
        return f"({sql_ident(col_tok.text)} IN ({', '.join(values)}))"


def _is_literal_word(tok: _Token) -> bool:
    t = tok.text
    return bool(
        _DATETIME_RE.match(t)
        or _INT_RE.match(t)
        or _FLOAT_RE.match(t)
        or t.lower() in ("true", "false")
    )


def plan_predicate(expr: str) -> Predicate:
    """Parse a v1-grammar predicate string once, without a Spark session:
    its SQL text, its prunable comparisons and the columns it names.

    >>> plan_predicate("53000 < l_extendedprice AND l_tax IN (0.0)").prunable
    (('l_extendedprice', '>', 53000),)
    """
    return _Parser(_tokenize(expr)).parse()


def parse_predicate(expr: str) -> Column:
    """Parse a v1-grammar predicate string into a Spark ``Column``.

    >>> df.filter(parse_predicate("memoryUsed > 151194126688"))
    """
    return F.expr(plan_predicate(expr).sql)


def parse_predicate_by_index(expr: str, columns: list[str]) -> Column:
    """The v2 variant of the grammar: columns referenced by ORDINAL —
    ``"92 > 151194126688"`` means column #92 (``v2/src/main.rs:643-796``,
    invocation ``:737``). Indices are resolved against ``columns`` (0-based,
    like v2's schema vector) and the rewritten text goes through the normal
    parser, so all boolean structure works identically."""
    toks = _tokenize(expr)
    out = []
    for i, tok in enumerate(toks):
        # an integer is a column ordinal iff it sits in column position:
        # immediately BEFORE a comparison operator (v2 puts the column on
        # the left and the literal on the right)
        if (
            tok.kind == "word"
            and _INT_RE.match(tok.text)
            and i + 1 < len(toks)
            and toks[i + 1].kind == "op"
        ):
            idx = int(tok.text)
            if not 0 <= idx < len(columns):
                raise ValueError(f"column index {idx} out of range")
            tok = _Token("word", columns[idx])
        out.append(tok)
    return F.expr(_Parser(out).parse().sql)


_AGG_RE = re.compile(r"^\s*(SUM|AVG|MIN|MAX|COUNT)\s*\(\s*([A-Za-z0-9_]+)\s*\)\s*$", re.I)


class Aggregation(NamedTuple):
    """One parsed aggregation spec."""

    sql: str  # ``op(`column`) AS `alias```
    column: str  # the column it aggregates


def plan_aggregation(spec: str, alias: str | None = None) -> Aggregation:
    """``"SUM(memoryUsed)"`` → ``sum(`memoryUsed`) AS `sum_memoryUsed```
    (v1 ``parse_aggregation``, ``v1/src/main.rs:1209-1232``; name formatting
    ``get_name`` ``:1552-1554``). ``count`` is the non-null count, matching
    v1 (``v1/src/main.rs:1517``)."""
    m = _AGG_RE.match(spec)
    if not m:
        raise ValueError(f"unsupported aggregation: {spec!r}")
    op, col = m.group(1).lower(), m.group(2)
    name = alias if alias is not None else f"{op}_{col}"
    return Aggregation(f"{op}({sql_ident(col)}) AS {sql_name(name)}", col)


def parse_aggregation(spec: str, alias: str | None = None) -> Column:
    """``plan_aggregation`` as a Spark ``Column``."""
    return F.expr(plan_aggregation(spec, alias).sql)


def parse_aggregations(specs: list[str] | list[tuple[str, str]]) -> list[Column]:
    """Parse a list of aggregation specs, optionally ``(spec, alias)`` pairs."""
    cols = []
    for spec in specs:
        if isinstance(spec, tuple):
            cols.append(parse_aggregation(spec[0], spec[1]))
        else:
            cols.append(parse_aggregation(spec))
    return cols
