"""Result comparison for the output checker.

Engine results and oracle results are normalised to lists of tuples of
plain Python values.  Numbers compare with a relative/absolute tolerance of
1e-6 (sums may fold in another order); everything else compares exactly.
"""

from __future__ import annotations

import math
from decimal import Decimal

TOL = 1e-6


def norm(v):
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    return v


def rows(records, cols) -> list[tuple]:
    """Rows (dicts or pyspark Rows) projected onto ``cols``."""
    return [tuple(norm(r[c]) for c in cols) for r in records]


def same(a, b) -> bool:
    if isinstance(a, bool) or isinstance(b, bool):
        return a == b
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return math.isclose(a, b, rel_tol=TOL, abs_tol=TOL)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(same(x, y) for x, y in zip(a, b))
    return a == b


def _key(row: tuple):
    # exact columns first, then rounded floats: a tolerance-equal pair
    # lands in the same sort position on both sides
    exact = tuple((0, str(v)) for v in row if not isinstance(v, float))
    return exact + tuple(round(v, 4) for v in row if isinstance(v, float))


def rows_equal(got: list, exp: list) -> bool:
    """Equal as multisets of rows: no checked result's order is part of
    its answer."""
    if len(got) != len(exp):
        return False
    got, exp = sorted(got, key=_key), sorted(exp, key=_key)
    return all(same(tuple(g), tuple(e)) for g, e in zip(got, exp))


def topk_equal(got: list[tuple], truth: dict, k: int) -> bool:
    """``got`` is [(id, distance)] in rank order; ``truth`` maps every
    candidate id to its oracle distance.  Ties at the cut may pick either
    id, so the check is: each returned distance is that id's true distance,
    and the distance sequence equals the oracle's k smallest."""
    best = sorted(truth.values())[:k]
    return (len(got) == len(best)
            and all(i in truth and same(d, truth[i]) for i, d in got)
            and all(same(d, b) for (_, d), b in zip(got, best)))


def perturb(v):
    """A copy of ``v`` with its first number changed (self-test only)."""
    if isinstance(v, bool):
        return not v
    if isinstance(v, (int, float)):
        return v + 1
    if isinstance(v, (list, tuple)):
        if not v:
            return type(v)([("perturbed",)])
        return type(v)([perturb(v[0])] + list(v[1:]))
    return ("perturbed", v)
