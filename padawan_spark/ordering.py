"""Null-first lexicographic ordering toolkit.

The reference defines dataset semantics in terms of lexicographic
tuple ordering over the index columns with **nulls sorting first**
(``/root/reference/src/padawan/ordering.py:5-95``,
``/root/reference/src/padawan/dataset.py:12-32``).  Spark's ascending
sort is already nulls-first, but tuple-vs-literal range predicates and
null-aware min/max must be built explicitly:

- :func:`columns_lt` / :func:`columns_leq` / :func:`columns_gt` /
  :func:`columns_geq` expand ``(c1,c2,...) OP (b1,b2,...)`` into nested
  boolean column expressions.  Because they are plain Catalyst boolean
  trees over the raw columns, the leading-column conjuncts are pushed
  into the parquet scan (row-group min/max skipping) — this is the
  scale-path replacement for the reference's driver-side partition
  pruning (``sliced_dataset.py:41-77``).
- :func:`keys_eq` is null-safe key equality between two aliased sides,
  the join condition for key joins where a NULL key matches a NULL key.
- :func:`sort_key_cols` produces ``(null-rank, value)`` pairs so
  ``F.min_by`` / ``F.max_by`` order exactly like the reference's
  ``lex_min`` / ``lex_max`` (nulls smallest), which plain ``F.min`` /
  ``F.max`` would get wrong (they skip nulls).
- :func:`lex_key` / :func:`lex_cmp` are driver-side comparators for the
  small bound tuples kept in the manifest.

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

def _lit(value):
    return F.lit(value)


def _null_lt(col: Column, value) -> Column:
    """col < value under null-first order."""
    if value is None:
        return F.lit(False)  # nothing is smaller than null
    return col.isNull() | (col < _lit(value))


def _null_gt(col: Column, value) -> Column:
    """col > value under null-first order."""
    if value is None:
        return col.isNotNull()  # everything non-null is larger than null
    return col.isNotNull() & (col > _lit(value))


def _null_eq(col: Column, value) -> Column:
    if value is None:
        return col.isNull()
    return col == _lit(value)


def _expand(columns: Sequence[Column], bound: Sequence, strict_atom, empty: bool) -> Column:
    """Recursive lexicographic expansion: ``c0 OP b0 OR (c0 == b0 AND rest)``."""
    if len(bound) == 0:
        return F.lit(empty)
    head_c, head_b = columns[0], bound[0]
    rest = _expand(columns[1:], bound[1:], strict_atom, empty)
    return strict_atom(head_c, head_b) | (_null_eq(head_c, head_b) & rest)


def _as_cols(columns: Sequence) -> list[Column]:
    return [F.col(c) if isinstance(c, str) else c for c in columns]


def columns_lt(columns: Sequence, bound: Sequence) -> Column:
    """``(columns...) < (bound...)`` lexicographic, null-first; bound may be a prefix."""
    cols = _as_cols(columns)[: len(bound)]
    return _expand(cols, list(bound), _null_lt, empty=False)


def columns_leq(columns: Sequence, bound: Sequence) -> Column:
    cols = _as_cols(columns)[: len(bound)]
    return _expand(cols, list(bound), _null_lt, empty=True)


def columns_gt(columns: Sequence, bound: Sequence) -> Column:
    cols = _as_cols(columns)[: len(bound)]
    return _expand(cols, list(bound), _null_gt, empty=False)


def columns_geq(columns: Sequence, bound: Sequence) -> Column:
    cols = _as_cols(columns)[: len(bound)]
    return _expand(cols, list(bound), _null_gt, empty=True)


def _cc_lt(col: Column, bound: Column) -> Column:
    """``col < bound`` under null-first order, bound itself a COLUMN whose
    null-ness is only known at runtime (vs ``_null_lt``, which folds a
    literal bound's null-ness at plan-build time)."""
    return bound.isNotNull() & (col.isNull() | (col < bound))


def _cc_gt(col: Column, bound: Column) -> Column:
    """``col > bound`` under null-first order, column-valued bound."""
    return col.isNotNull() & (bound.isNull() | (col > bound))


def _cc_expand(columns: list[Column], bounds: list[Column],
               strict_atom, empty: bool) -> Column:
    if not bounds:
        return F.lit(empty)
    rest = _cc_expand(columns[1:], bounds[1:], strict_atom, empty)
    return strict_atom(columns[0], bounds[0]) | (
        columns[0].eqNullSafe(bounds[0]) & rest)


def cols_lt_cols(columns: Sequence, bounds: Sequence) -> Column:
    """``(columns...) < (bounds...)`` lexicographic null-first where the
    bound side is COLUMNS too (e.g. a broadcast manifest-bounds table),
    so one join evaluates every (row, file-bound) pair in a single job."""
    return _cc_expand(_as_cols(columns)[: len(bounds)], _as_cols(bounds),
                      _cc_lt, empty=False)


def cols_leq_cols(columns: Sequence, bounds: Sequence) -> Column:
    return _cc_expand(_as_cols(columns)[: len(bounds)], _as_cols(bounds),
                      _cc_lt, empty=True)


def cols_gt_cols(columns: Sequence, bounds: Sequence) -> Column:
    return _cc_expand(_as_cols(columns)[: len(bounds)], _as_cols(bounds),
                      _cc_gt, empty=False)


def cols_geq_cols(columns: Sequence, bounds: Sequence) -> Column:
    return _cc_expand(_as_cols(columns)[: len(bounds)], _as_cols(bounds),
                      _cc_gt, empty=True)


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

@total_ordering
class _NullFirst:
    """Wrapper making None compare smaller than everything."""

    __slots__ = ("v",)

    def __init__(self, v):
        self.v = v

    def __eq__(self, other):
        return self.v == other.v

    def __lt__(self, other):
        if self.v is None:
            return other.v is not None
        if other.v is None:
            return False
        return self.v < other.v


def lex_key(bound: Sequence) -> tuple:
    """Sort key for a bound tuple under null-first lexicographic order."""
    return tuple(_NullFirst(v) for v in bound)


def nullable_cmp(a, b) -> int:
    if a == b:
        return 0
    ka, kb = _NullFirst(a), _NullFirst(b)
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
