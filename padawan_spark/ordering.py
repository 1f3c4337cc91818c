"""Null-first lexicographic ordering toolkit.

The reference defines dataset semantics in terms of lexicographic
tuple ordering over the index columns with **nulls sorting first**
(``/root/reference/src/padawan/ordering.py:5-95``,
``/root/reference/src/padawan/dataset.py:12-32``).  Spark's ascending
sort is already nulls-first, but tuple-vs-literal range predicates and
null-aware min/max must be built explicitly:

- :func:`columns_lt` / :func:`columns_leq` / :func:`columns_gt` /
  :func:`columns_geq` expand ``(c1,c2,...) OP (b1,b2,...)`` into nested
  boolean column expressions through one recursive expander.  A bound
  item is a literal or a Column (e.g. a broadcast table of file bounds,
  so one join tests every (row, bound) pair).  Literal bounds fold their
  nullness at build time, so the predicate is a plain Catalyst boolean
  tree over the raw columns and its leading-column conjuncts push into
  the parquet scan (row-group min/max skipping) — this is the scale-path
  replacement for the reference's driver-side partition pruning
  (``sliced_dataset.py:41-77``).
- :func:`range_predicate` joins a lower and an upper bound under one of
  the four ``inclusive`` modes; :func:`inclusive_ends` validates a mode.
- :func:`keys_eq` is null-safe key equality between two aliased sides,
  the join condition for key joins where a NULL key matches a NULL key.
- :func:`sort_key_cols` produces ``(null-rank, value)`` pairs so
  ``F.min_by`` / ``F.max_by`` order exactly like the reference's
  ``lex_min`` / ``lex_max`` (nulls smallest), which plain ``F.min`` /
  ``F.max`` would get wrong (they skip nulls).
- :func:`lex_key` / :func:`lex_cmp` are driver-side comparators for the
  small bound tuples kept in the manifest, ordering NaN as Spark does
  (above every number, equal to NaN).

Bounds may be *prefixes* of the index tuple (slice on the first k
columns only), mirroring ``sliced_dataset.py:43-48``.
"""

from __future__ import annotations

import operator
from functools import reduce, total_ordering
from typing import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# Column-expression builders (executor side, Catalyst-optimizable)
# ---------------------------------------------------------------------------

INCLUSIVE = ("none", "lower", "upper", "both")


def _lt(col: Column, b) -> Column:
    """``col < b`` under null-first order.  A literal ``b`` folds its
    nullness into the expression now, so a slice pushes plain comparisons
    into the parquet scan; a Column ``b`` is null or not per row."""
    if isinstance(b, Column):
        return b.isNotNull() & (col.isNull() | (col < b))
    if b is None:
        return F.lit(False)  # nothing is smaller than null
    return col.isNull() | (col < F.lit(b))


def _gt(col: Column, b) -> Column:
    """``col > b`` under null-first order."""
    if isinstance(b, Column):
        return col.isNotNull() & (b.isNull() | (col > b))
    if b is None:
        return col.isNotNull()  # everything non-null is larger than null
    return col.isNotNull() & (col > F.lit(b))


def _eq(col: Column, b) -> Column:
    if isinstance(b, Column):
        return col.eqNullSafe(b)
    return col.isNull() if b is None else col == F.lit(b)


def _expand(columns: list[Column], bound: Sequence, strict, empty: bool) -> Column:
    """Recursive lexicographic expansion: ``c0 OP b0 OR (c0 == b0 AND rest)``."""
    if len(bound) == 0:
        return F.lit(empty)
    rest = _expand(columns[1:], bound[1:], strict, empty)
    return strict(columns[0], bound[0]) | (_eq(columns[0], bound[0]) & rest)


def _as_cols(columns: Sequence) -> list[Column]:
    return [F.col(c) if isinstance(c, str) else c for c in columns]


def columns_lt(columns: Sequence, bound: Sequence) -> Column:
    """``(columns...) < (bound...)`` lexicographic, null-first.  ``bound``
    may be a prefix; its items are literals or Columns."""
    return _expand(_as_cols(columns), bound, _lt, empty=False)


def columns_leq(columns: Sequence, bound: Sequence) -> Column:
    return _expand(_as_cols(columns), bound, _lt, empty=True)


def columns_gt(columns: Sequence, bound: Sequence) -> Column:
    return _expand(_as_cols(columns), bound, _gt, empty=False)


def columns_geq(columns: Sequence, bound: Sequence) -> Column:
    return _expand(_as_cols(columns), bound, _gt, empty=True)


def inclusive_ends(inclusive: str) -> tuple[bool, bool]:
    """``(lower closed, upper closed)`` for an ``inclusive`` mode."""
    if inclusive not in INCLUSIVE:
        raise ValueError(f"inclusive must be one of {INCLUSIVE}: {inclusive}")
    return inclusive in ("lower", "both"), inclusive in ("upper", "both")


def range_predicate(columns: Sequence, lb: Sequence | None,
                    ub: Sequence | None, inclusive: str) -> Column | None:
    """``lb <(=) (columns...) <(=) ub``, each end closed or open per
    ``inclusive``; a ``None`` bound leaves that end unbounded, and with
    both ends unbounded there is no predicate (``None``)."""
    lo_incl, hi_incl = inclusive_ends(inclusive)
    conds = []
    if lb is not None:
        conds.append((columns_geq if lo_incl else columns_gt)(columns, lb))
    if ub is not None:
        conds.append((columns_leq if hi_incl else columns_lt)(columns, ub))
    return reduce(operator.and_, conds) if conds else None


def keys_eq(columns: Sequence[str], left: str, right: str) -> Column:
    """``left.c <=> right.c`` for every key column ``c``, AND-ed: key
    equality between two aliased sides under which NULL keys match each
    other (legal keys under null-first semantics)."""
    return reduce(operator.and_, [
        F.col(f"{left}.{c}").eqNullSafe(F.col(f"{right}.{c}"))
        for c in columns])


def sort_key_cols(columns: Sequence) -> list[Column]:
    """Flattened ``(null_rank, value)`` pairs forming a null-first sort key.

    Usable inside ``F.struct`` for ``min_by``/``max_by`` so that a row with a
    null index value ranks *smallest*, matching the reference's ``lex_min``
    (``dataset.py:12-22``).
    """
    out: list[Column] = []
    for c in _as_cols(columns):
        out.append(c.isNull().cast("int") * F.lit(-1))
        out.append(c)
    return out


# ---------------------------------------------------------------------------
# Driver-side comparators for manifest bound tuples
# ---------------------------------------------------------------------------

def _is_nan(v) -> bool:
    return isinstance(v, float) and v != v


@total_ordering
class _NullFirst:
    """Wrapper ordering values as Spark does: None below everything, NaN
    above every number and equal to NaN."""

    __slots__ = ("v",)

    def __init__(self, v):
        self.v = v

    def __eq__(self, other):
        return self.v == other.v or (_is_nan(self.v) and _is_nan(other.v))

    def __lt__(self, other):
        if self.v is None:
            return other.v is not None
        if other.v is None or _is_nan(self.v):
            return False
        return _is_nan(other.v) or self.v < other.v


def lex_key(bound: Sequence) -> tuple:
    """Sort key for a bound tuple under null-first lexicographic order."""
    return tuple(_NullFirst(v) for v in bound)


def nullable_cmp(a, b) -> int:
    ka, kb = _NullFirst(a), _NullFirst(b)
    if ka == kb:
        return 0
    return -1 if ka < kb else 1


def lex_cmp(a: Sequence, b: Sequence) -> int:
    """Compare two bound tuples; shorter tuple that is a prefix compares equal
    on the shared prefix length (caller decides prefix semantics)."""
    for x, y in zip(a, b):
        c = nullable_cmp(x, y)
        if c != 0:
            return c
    return (len(a) > len(b)) - (len(a) < len(b))


def sort_partitions(lower_bounds: Sequence[Sequence], upper_bounds: Sequence[Sequence]) -> list[int]:
    """Partition order by (lower, upper) lexicographic null-first keys."""
    return sorted(
        range(len(lower_bounds)),
        key=lambda i: (lex_key(lower_bounds[i]), lex_key(upper_bounds[i])),
    )
