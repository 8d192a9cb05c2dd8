"""Write-side atomic expression AST (the reference's ``Expr``).

Reference: lib/src/model/expr.dart —
- FieldRef / Constant / TimestampExpr (``Expr.now()``)  :44-73, 230-249
- BinaryOp add/subtract/multiply/divide/modulo/min/max  :76-90, 161-169
- UnaryOp negate/abs                                    :93-104, 172-175
- FunctionCall min/max/round/floor/ceil/abs             :107-118, 259-311
- IsUpdate/IsInsert + IfElse/When (upsert branches)     :121-158, 313-341
- operator overloads                                    :347-400

Compiled to Spark Column expressions evaluated inside the MERGE-style upsert
rewrite (write.py), so an ``increment`` at 100 TB is a column expression in a
join, never a per-row round trip.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column
from pyspark.sql import functions as F


class Expr:
    # ---- constructors -------------------------------------------------
    @staticmethod
    def field(name: str) -> "Expr":
        return Expr("field", name=name)

    @staticmethod
    def value(v: Any) -> "Expr":
        return Expr("const", value=v)

    @staticmethod
    def now() -> "Expr":
        return Expr("now")

    @staticmethod
    def is_update() -> "Expr":
        return Expr("is_update")

    @staticmethod
    def is_insert() -> "Expr":
        return Expr("is_insert")

    def __init__(self, kind: str, **kw):
        self.kind = kind
        self.kw = kw

    # ---- combinators --------------------------------------------------
    def _bin(self, op: str, other) -> "Expr":
        return Expr("bin", op=op, left=self, right=_wrap(other))

    def __add__(self, o): return self._bin("add", o)
    def __radd__(self, o): return _wrap(o)._bin("add", self)
    def __sub__(self, o): return self._bin("subtract", o)
    def __rsub__(self, o): return _wrap(o)._bin("subtract", self)
    def __mul__(self, o): return self._bin("multiply", o)
    def __rmul__(self, o): return _wrap(o)._bin("multiply", self)
    def __truediv__(self, o): return self._bin("divide", o)
    def __mod__(self, o): return self._bin("modulo", o)
    def __neg__(self): return Expr("unary", op="negate", operand=self)

    def abs(self): return Expr("fn", fn="abs", args=[self])
    def round(self): return Expr("fn", fn="round", args=[self])
    def floor(self): return Expr("fn", fn="floor", args=[self])
    def ceil(self): return Expr("fn", fn="ceil", args=[self])

    @staticmethod
    def min_of(a, b) -> "Expr":
        return Expr("bin", op="min", left=_wrap(a), right=_wrap(b))

    @staticmethod
    def max_of(a, b) -> "Expr":
        return Expr("bin", op="max", left=_wrap(a), right=_wrap(b))

    @staticmethod
    def if_else(cond: "Expr", then, otherwise) -> "Expr":
        return Expr("if", cond=cond, then=_wrap(then), otherwise=_wrap(otherwise))

    @staticmethod
    def when(cond: "Expr", value, otherwise=None) -> "Expr":
        """Single-branch conditional (expr.dart:148-158): when cond holds
        use value, else ``otherwise`` (default null)."""
        return Expr("if", cond=cond, then=_wrap(value), otherwise=_wrap(otherwise))

    # ---- compile ------------------------------------------------------
    def to_column(self, resolver, is_update_col: Column | None = None,
                  now: Column | None = None) -> Column:
        """resolver: field name → Column of the *current* record value.
        ``is_update_col`` marks matched (update) vs new (insert) rows in the
        upsert rewrite; None outside upsert (treated as update=True).
        ``now`` stands in for ``Expr.now()`` (default: the query's
        ``current_timestamp()``, which a lazy frame re-evaluates on every
        read)."""
        k = self.kind
        sub = dict(resolver=resolver, is_update_col=is_update_col, now=now)
        if k == "field":
            return resolver(self.kw["name"])
        if k == "const":
            return F.lit(self.kw["value"])
        if k == "now":
            return F.current_timestamp() if now is None else now
        if k == "is_update":
            return is_update_col if is_update_col is not None else F.lit(True)
        if k == "is_insert":
            return ~is_update_col if is_update_col is not None else F.lit(False)
        if k == "bin":
            l = self.kw["left"].to_column(**sub)
            r = self.kw["right"].to_column(**sub)
            op = self.kw["op"]
            if op == "add": return l + r
            if op == "subtract": return l - r
            if op == "multiply": return l * r
            if op == "divide": return l / r
            if op == "modulo": return l % r
            if op == "min": return F.least(l, r)
            if op == "max": return F.greatest(l, r)
        if k == "unary":
            v = self.kw["operand"].to_column(**sub)
            return -v if self.kw["op"] == "negate" else F.abs(v)
        if k == "fn":
            args = [a.to_column(**sub) for a in self.kw["args"]]
            fn = self.kw["fn"]
            if fn == "abs": return F.abs(args[0])
            if fn == "round": return F.round(args[0], 0)
            if fn == "floor": return F.floor(args[0])
            if fn == "ceil": return F.ceil(args[0])
            if fn == "min": return F.least(*args)
            if fn == "max": return F.greatest(*args)
        if k == "if":
            c = self.kw["cond"].to_column(**sub)
            t = self.kw["then"].to_column(**sub)
            o = self.kw["otherwise"].to_column(**sub)
            return F.when(c.cast("boolean"), t).otherwise(o)
        raise ValueError(f"unknown expr node: {k}")


def _wrap(v) -> Expr:
    return v if isinstance(v, Expr) else Expr.value(v)
