"""The SQL subset the statistics rewrites serve, parsed once per statement.

    SELECT items FROM table [WHERE conj AND ...] [GROUP BY col]
        [ORDER BY key [ASC|DESC], ...] [LIMIT k] [;]

Items are ``*``, bare columns, or ``count|min|max|sum|avg`` over ``*``,
``1`` or a column, each with an optional ``AS alias``.  Conjuncts are
``col <op> number`` (``<op>`` one of ``< <= > >= =``) and ``col BETWEEN
a AND b``, which is kept as its two bounds.  Keywords are
case-insensitive, identifiers are not.  Anything else (joins, OR,
parentheses, string literals, expressions) does not parse, and
``Engine.sql`` hands the statement to Spark untouched.  Each rewrite
decides from the parsed :class:`Statement` whether it fires.

Numeric literals are typed the way Spark SQL types them, so a rewrite
compares exactly what the plain plan compares:

* an integer is ``int``, or ``Decimal`` outside int64 (Spark's
  INT/BIGINT, else DECIMAL(p,0));
* ``d.d`` is ``Decimal`` (Spark's DECIMAL);
* an exponent form is ``float`` (Spark's DOUBLE).

:func:`coerce` puts a statistic and a literal in the type Spark's
coercion compares them in, and :func:`pushed_filters` gives the
data-source filters Spark pushes for a statement's conjuncts.
"""

from __future__ import annotations

import operator
import re
from dataclasses import dataclass
from decimal import Decimal

import numpy as np
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    LessThan,
    LessThanOrEqual,
)
from pyspark.sql.types import (
    ByteType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
)

_IDENT = r"[A-Za-z_][A-Za-z0-9_]*"
_NUM = r"[-+]?\d+(?:\.\d+)?(?:[eE][-+]?\d+)?"
_KEY = rf"({_IDENT})(?:\s+(asc|desc))?"

_STATEMENT = re.compile(
    rf"\s*select\s+(?P<items>.+?)\s+from\s+(?P<table>{_IDENT})"
    r"(?:\s+where\s+(?P<where>.+?))?"
    rf"(?:\s+group\s+by\s+(?P<group>{_IDENT}))?"
    rf"(?:\s+order\s+by\s+(?P<order>{_KEY}(?:\s*,\s*{_KEY})*))?"
    r"(?:\s+limit\s+(?P<limit>\d+))?\s*;?\s*",
    re.IGNORECASE | re.DOTALL,
)

# an aggregate call or a bare column; ``COUNT(*)AS n`` needs no space
_ITEM = re.compile(
    rf"\s*(?:(?P<fn>count|min|max|sum|avg)\s*\(\s*(?P<arg>\*|1|{_IDENT})\s*\)"
    r"|(?P<col>[A-Za-z0-9_]+))"
    rf"(?:(?:\s+|(?<=\)))as\s+(?P<alias>{_IDENT}))?\s*",
    re.IGNORECASE,
)

_CONJUNCT = re.compile(
    rf"({_IDENT})(?:\s*(<=|>=|<|>|=)\s*({_NUM})"
    rf"|\s+between\s+({_NUM})\s+and\s+({_NUM}))",
    re.IGNORECASE,
)
_AND = re.compile(r"\s+and\s+", re.IGNORECASE)
_ORDER_KEY = re.compile(_KEY, re.IGNORECASE)

#: comparison operators, for Spark Columns and Python values alike
OPS = {
    ">": operator.gt,
    ">=": operator.ge,
    "<": operator.lt,
    "<=": operator.le,
    "=": operator.eq,
}


@dataclass(frozen=True)
class Item:
    """One select item: ``fn`` is ``None`` for a bare column or ``*``."""

    fn: str | None
    arg: str
    alias: str | None

    @property
    def name(self) -> str:
        """The output column name Spark gives the item."""
        if self.alias:
            return self.alias
        if self.fn is None:
            return self.arg
        if self.fn == "count" and self.arg in ("*", "1"):
            return "count(1)"  # Catalyst rewrites COUNT(*) to count(1)
        return f"{self.fn}({self.arg})"


@dataclass(frozen=True)
class Statement:
    items: tuple[Item, ...]
    table: str
    #: ``(column, op, literal)`` conjuncts; ``None`` when there is no WHERE
    where: tuple[tuple[str, str, object], ...] | None
    group: str | None
    #: ``(column, descending)`` ORDER BY keys
    order: tuple[tuple[str, bool], ...]
    limit: int | None

    def columns(self, schema) -> list[str] | None:
        """The projected column names when every item is a plain
        column in ``schema`` (or the lone ``*``), else ``None``."""
        if self.items[0].arg == "*" and self.items[0].fn is None:
            return list(schema)
        if any(i.fn or i.alias or i.arg not in schema for i in self.items):
            return None
        return [i.arg for i in self.items]

    def referenced(self, schema) -> list[str]:
        """The ``schema`` columns the statement names anywhere (select
        items and aggregate arguments, conjuncts, GROUP BY and ORDER BY
        keys), in table order; all of them under ``SELECT *``.  A
        rewrite's fresh relation reads only these."""
        if any(i.fn is None and i.arg == "*" for i in self.items):
            return list(schema)
        names = {i.arg for i in self.items}
        names.update(c for c, _, _ in self.where or ())
        names.update(c for c, _ in self.order)
        names.add(self.group)
        return [c for c in schema if c in names]


def literal(text: str):
    """Type a numeric literal as Spark SQL does (see the module doc)."""
    if "e" in text or "E" in text:
        return float(text)
    if "." in text:
        return Decimal(text)
    v = int(text)
    return v if -(1 << 63) <= v < (1 << 63) else Decimal(v)


def coerce(dtype, value, lit) -> tuple:
    """``(value, lit)`` in the type Spark compares a ``dtype`` column
    against ``lit`` in: exact for an integral column against an integer
    or decimal literal, DOUBLE when either side is floating."""
    if isinstance(lit, float) or isinstance(dtype, (FloatType, DoubleType)):
        return float(value), float(lit)
    return value, lit


def classify(rmin, rmax, where, dtype):
    """How the values ``[rmin, rmax]`` of a ``dtype`` column (a chunk
    row's sidecar bounds) meet ``where``'s conjuncts on it: 'in' (every
    value satisfies every conjunct), 'out' (some conjunct fails them
    all), or 'boundary'.  Each conjunct
    compares in the type Spark's coercion picks for it (``coerce``), so
    a DOUBLE literal rounds an int64 coordinate just as the scan does."""
    if where and rmin != rmin:
        return "boundary"  # NaN bounds: the scan decides
    every = True
    for _, op, lit in where or ():
        lo, v = coerce(dtype, rmin, lit)
        hi, _ = coerce(dtype, rmax, lit)
        if op == "=":
            some, all_ = lo <= v <= hi, lo == v == hi
        else:
            # a monotone bound holds everywhere iff it holds at the
            # near end, somewhere iff it holds at the far end
            near, far = (lo, hi) if op[0] == ">" else (hi, lo)
            some, all_ = OPS[op](far, v), OPS[op](near, v)
        if not some:
            return "out"
        every = every and all_
    return "in" if every else "boundary"


def predicate(conjuncts):
    """The Spark Column AND-ing ``conjuncts``."""
    pred = F.lit(True)
    for col, op, lit in conjuncts:
        pred = pred & OPS[op](F.col(col), F.lit(lit))
    return pred


#: data-source filter class per comparison operator
_FILTERS = {
    ">": GreaterThan,
    ">=": GreaterThanOrEqual,
    "<": LessThan,
    "<=": LessThanOrEqual,
    "=": EqualTo,
}

#: bits of each integral Spark type
_INT_BITS = {ByteType: 8, ShortType: 16, IntegerType: 32, LongType: 64}


def _pushed_value(dtype, lit):
    """The value Spark pushes to a data source for ``column <op> lit``
    over a ``dtype`` column, or ``None`` where this rule does not know
    it for certain.

    Known: an integer literal within an integral column's range, pushed
    as itself, and a literal exactly representable in a floating
    column's type, pushed as that float.  Elsewhere Spark's optimizer
    may rewrite the bound first (``l > 2.5`` pushes ``l > 2``,
    ``f > 0.1`` pushes ``f >= 0.10000000149``) or push nothing."""
    if type(dtype) in _INT_BITS:
        half = 1 << (_INT_BITS[type(dtype)] - 1)
        return lit if type(lit) is int and -half <= lit < half else None
    if not isinstance(dtype, (FloatType, DoubleType)):
        return None
    x = float(lit)  # an int64 or Decimal never raises, at worst inf
    if not np.isfinite(x) or (x != lit if type(lit) is int else Decimal(x) != lit):
        return None
    if isinstance(dtype, FloatType) and float(np.float32(x)) != x:
        return None
    return x


def pushed_filters(conjuncts, schema: dict) -> list:
    """Data-source filters for ``conjuncts``: each one Spark itself
    pushes for them, with the same value, where :func:`_pushed_value`
    knows it.  A subset is safe under the Inexact contract, since the
    full predicate is re-applied; it only reads more."""
    out = []
    for col, op, lit in conjuncts:
        value = _pushed_value(schema.get(col), lit)
        if value is not None:
            out.append(_FILTERS[op]((col,), value))
    return out


def _conjuncts(where: str):
    out, pos = [], 0
    while True:
        m = _CONJUNCT.match(where, pos)
        if m is None:
            return None
        col, op, lit, lo, hi = m.groups()
        if op:
            out.append((col, op, literal(lit)))
        else:
            out += [(col, ">=", literal(lo)), (col, "<=", literal(hi))]
        pos = m.end()
        if pos == len(where):
            return tuple(out)
        sep = _AND.match(where, pos)
        if sep is None:
            return None
        pos = sep.end()


def parse(query: str) -> Statement | None:
    """Parse ``query`` if it is in the subset, else ``None``."""
    m = _STATEMENT.fullmatch(query)
    if m is None:
        return None
    items_text = m.group("items")
    if items_text.strip() == "*":
        items = (Item(None, "*", None),)
    else:
        items = []
        for raw in items_text.split(","):
            im = _ITEM.fullmatch(raw)
            if im is None:
                return None
            fn = im.group("fn")
            items.append(
                Item(
                    fn and fn.lower(),
                    im.group("arg") or im.group("col"),
                    im.group("alias"),
                )
            )
        items = tuple(items)
    where = None
    if m.group("where") is not None:
        where = _conjuncts(m.group("where"))
        if where is None:
            return None
    order = tuple(
        (col, d.lower() == "desc")
        for col, d in _ORDER_KEY.findall(m.group("order") or "")
    )
    limit = m.group("limit")
    return Statement(
        items,
        m.group("table"),
        where,
        m.group("group"),
        order,
        None if limit is None else int(limit),
    )
