"""SQL condition string → engine :class:`Expr`.

The reference turns WHERE-clause SQL into pushdown-able Iceberg
expressions with a fixed grammar (sql/SqlQueryProcessor.java:580-780):
AND/OR/NOT, parentheses, ``IS [NOT] NULL``, ``IS [NOT] DISTINCT FROM``,
``=  != <> < <= > >=``, ``BETWEEN``, ``[NOT] IN``, ``LIKE 'prefix%'``,
bare boolean columns, typed literals including ``DATE '…'``,
``TIMESTAMP '…'``, ``'inf'/'-inf'/'nan'`` floats (ibid. :942-1170).

This module is the Spark-engine counterpart: a small recursive-descent
parser producing :mod:`swiftlake_spark.tables.expressions` trees, which
then both prune manifests and compile to Catalyst columns.  An optional
schema coerces literals (date/timestamp strings → Python values).
"""

from __future__ import annotations

import datetime as dt
import re
from typing import Any

from pyspark.sql import types as T

from swiftlake_spark.tables import expressions as E
from swiftlake_spark.tables.expressions import Expr

_TOKEN_RE = re.compile(
    r"""\s*(?:
        (?P<str>'(?:[^']|'')*')
      | (?P<num>-?\d+(?:\.\d+)?(?:[eE][+-]?\d+)?)
      | (?P<op><=|>=|!=|<>|=|<|>|\(|\)|,)
      | (?P<word>[A-Za-z_][\w.]*)
    )""",
    re.VERBOSE,
)

_KEYWORDS = {
    "AND", "OR", "NOT", "IS", "NULL", "IN", "BETWEEN", "LIKE", "DISTINCT",
    "FROM", "TRUE", "FALSE", "DATE", "TIMESTAMP",
}


class FilterParseError(ValueError):
    pass


def _tokenize(s: str) -> list[tuple[str, str]]:
    out: list[tuple[str, str]] = []
    pos = 0
    while pos < len(s):
        m = _TOKEN_RE.match(s, pos)
        if not m:
            if s[pos:].strip() == "":
                break
            raise FilterParseError(f"bad token at: {s[pos:pos+20]!r}")
        pos = m.end()
        if m.group("str") is not None:
            out.append(("str", m.group("str")[1:-1].replace("''", "'")))
        elif m.group("num") is not None:
            out.append(("num", m.group("num")))
        elif m.group("op") is not None:
            out.append(("op", m.group("op")))
        else:
            w = m.group("word")
            out.append(("kw", w.upper()) if w.upper() in _KEYWORDS else ("ident", w))
    out.append(("end", ""))
    return out


class _Parser:
    def __init__(self, tokens: list[tuple[str, str]], schema: T.StructType | None):
        self.toks = tokens
        self.i = 0
        self.schema = schema

    # -- token helpers ----------------------------------------------------
    def peek(self) -> tuple[str, str]:
        return self.toks[self.i]

    def next(self) -> tuple[str, str]:
        t = self.toks[self.i]
        self.i += 1
        return t

    def accept(self, kind: str, val: str | None = None) -> bool:
        k, v = self.peek()
        if k == kind and (val is None or v == val):
            self.i += 1
            return True
        return False

    def expect(self, kind: str, val: str | None = None) -> str:
        k, v = self.next()
        if k != kind or (val is not None and v != val):
            raise FilterParseError(f"expected {val or kind}, got {v!r}")
        return v

    # -- grammar ----------------------------------------------------------
    def parse(self) -> Expr:
        e = self.or_expr()
        self.expect("end")
        return e

    def or_expr(self) -> Expr:
        e = self.and_expr()
        while self.accept("kw", "OR"):
            e = E.or_(e, self.and_expr())
        return e

    def and_expr(self) -> Expr:
        e = self.not_expr()
        while self.accept("kw", "AND"):
            e = E.and_(e, self.not_expr())
        return e

    def not_expr(self) -> Expr:
        if self.accept("kw", "NOT"):
            return E.not_(self.not_expr())
        return self.primary()

    def primary(self) -> Expr:
        if self.accept("op", "("):
            e = self.or_expr()
            self.expect("op", ")")
            return e
        if self.accept("kw", "TRUE"):
            return E.always_true()
        if self.accept("kw", "FALSE"):
            return E.always_false()
        k, col = self.next()
        if k != "ident":
            raise FilterParseError(f"expected column, got {col!r}")
        return self.predicate(col)

    def predicate(self, col: str) -> Expr:  # noqa: C901
        k, v = self.peek()
        if k == "op" and v in ("=", "!=", "<>", "<", "<=", ">", ">="):
            self.next()
            lit = self.literal(col)
            op = {"=": E.col_eq, "!=": E.col_ne, "<>": E.col_ne,
                  "<": E.lt, "<=": E.le, ">": E.gt, ">=": E.ge}[v]
            return op(col, lit)
        if self.accept("kw", "BETWEEN"):
            lo = self.literal(col)
            self.expect("kw", "AND")
            hi = self.literal(col)
            return E.between(col, lo, hi)
        if self.accept("kw", "IS"):
            negated = self.accept("kw", "NOT")
            if self.accept("kw", "NULL"):
                return E.not_null(col) if negated else E.is_null(col)
            if self.accept("kw", "DISTINCT"):
                self.expect("kw", "FROM")
                if self.accept("kw", "NULL"):
                    return E.is_null(col) if negated else E.not_null(col)
                lit = self.literal(col)
                if negated:
                    # IS NOT DISTINCT FROM <non-null lit> ≡ plain equality
                    # (NULL rows fail both)
                    return E.col_eq(col, lit)
                # IS DISTINCT FROM <non-null lit>: NULL rows DO match
                return E.or_(E.col_ne(col, lit), E.is_null(col))
            raise FilterParseError("expected NULL or DISTINCT FROM after IS")
        if self.accept("kw", "NOT"):
            if self.accept("kw", "IN"):
                return E.not_in(col, self.literal_list(col))
            if self.accept("kw", "LIKE"):
                return self.like(col, negated=True)
            if self.accept("kw", "BETWEEN"):
                lo = self.literal(col)
                self.expect("kw", "AND")
                hi = self.literal(col)
                return E.not_(E.between(col, lo, hi))
            raise FilterParseError("expected IN/LIKE/BETWEEN after NOT")
        if self.accept("kw", "IN"):
            return E.in_(col, self.literal_list(col))
        if self.accept("kw", "LIKE"):
            return self.like(col, negated=False)
        # bare boolean column (reference supports it)
        return E.col_eq(col, True)

    def like(self, col: str, negated: bool) -> Expr:
        k, v = self.next()
        if k != "str":
            raise FilterParseError("LIKE needs a string literal")
        # ``\`` is LIKE's escape character (``'a\%'`` matches only
        # ``a%``), so a pattern holding one is never a plain prefix
        if not v.endswith("%") or "%" in v[:-1] or "_" in v or "\\" in v:
            raise FilterParseError(
                "only LIKE 'prefix%' is supported in pushdown filters"
            )
        e = E.starts_with(col, v[:-1])
        return E.not_(e) if negated else e

    def literal_list(self, col: str) -> list[Any]:
        self.expect("op", "(")
        vals = [self.literal(col)]
        while self.accept("op", ","):
            vals.append(self.literal(col))
        self.expect("op", ")")
        return vals

    def literal(self, col: str) -> Any:  # noqa: C901
        k, v = self.next()
        if k == "kw" and v == "NULL":
            # a NULL literal inside a comparison / IN list / BETWEEN is
            # never satisfiable under SQL three-valued logic, and folding
            # it (e.g. dropping NULL from an IN list) INVERTS under NOT —
            # "x NOT IN (1, NULL)" would return rows where SQL returns
            # none.  These Exprs drive DML row filters, so refuse loudly
            # instead of mutating the wrong rows.  (IS [NOT] NULL and
            # IS [NOT] DISTINCT FROM NULL are handled before this point.)
            raise FilterParseError(
                "NULL literal in a comparison/IN/BETWEEN is never "
                "satisfiable; use IS [NOT] NULL or IS [NOT] DISTINCT FROM"
            )
        if k == "kw" and v == "TRUE":
            return True
        if k == "kw" and v == "FALSE":
            return False
        if k == "kw" and v in ("DATE", "TIMESTAMP"):
            sk, sv = self.next()
            if sk != "str":
                raise FilterParseError(f"{v} literal needs a string")
            return dt.date.fromisoformat(sv) if v == "DATE" else _parse_ts(sv)
        if k == "num":
            return float(v) if ("." in v or "e" in v or "E" in v) else int(v)
        if k == "str":
            return self._coerce(col, v)
        raise FilterParseError(f"expected literal, got {v!r}")

    def _coerce(self, col: str, s: str) -> Any:
        """Type the string literal by the column's schema type (reference
        SqlQueryProcessor.java:942-1170, incl. inf/nan spellings)."""
        if self.schema is None or col not in self.schema.fieldNames():
            return s
        dtype = self.schema[col].dataType
        if isinstance(dtype, (T.DoubleType, T.FloatType)):
            low = s.lower()
            if low in ("inf", "+inf", "infinity"):
                return float("inf")
            if low in ("-inf", "-infinity"):
                return float("-inf")
            if low == "nan":
                return float("nan")
            return float(s)
        if isinstance(dtype, (T.IntegerType, T.LongType, T.ShortType)):
            return int(s)
        if isinstance(dtype, T.DateType):
            return dt.date.fromisoformat(s)
        if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
            return _parse_ts(s)
        if isinstance(dtype, T.BooleanType):
            return s.lower() == "true"
        return s


def _parse_ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


def parse_filter(sql: str, schema: T.StructType | None = None) -> Expr:
    """Parse a SQL condition into an engine expression."""
    return _Parser(_tokenize(sql), schema).parse()
