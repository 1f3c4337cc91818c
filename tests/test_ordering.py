"""Unit tests for null-first lexicographic predicates and comparators,
mirroring the reference's ordering semantics
(/root/reference/src/padawan/ordering.py — behavior, not code)."""

import datetime as dt
from itertools import product

import pytest
from pyspark.sql import functions as F

from padawan_spark.ordering import (
    columns_geq, columns_gt, columns_leq, columns_lt, keys_eq,
    lex_cmp, lex_key, nullable_cmp, sort_partitions,
)

# every 2-tuple over {None, 1, 2} x {None, 'a', 'b'}
VALUES = [(x, y) for x, y in product([None, 1, 2], [None, "a", "b"])]


def py_lex_lt(a, b):
    """Ground truth: null-first lexicographic tuple <, b may be a prefix."""
    for x, y in zip(a, b):
        c = nullable_cmp(x, y)
        if c != 0:
            return c < 0
    return False  # equal on prefix


@pytest.fixture(scope="module")
def tuples_df(spark):
    return spark.createDataFrame(
        [(i, x, y) for i, (x, y) in enumerate(VALUES)], "i int, x int, y string"
    ).cache()


@pytest.mark.parametrize("bound", [(1, "a"), (2, "b"), (None, "a"), (1, None),
                                   (1,), (None,), (2,)])
@pytest.mark.slow
def test_predicates_match_python(spark, tuples_df, bound):
    rows = {r["i"]: (r["x"], r["y"]) for r in tuples_df.collect()}
    for builder, check in [
        (columns_lt, lambda t: py_lex_lt(t, bound)),
        (columns_gt, lambda t: py_lex_lt(bound, t[:len(bound)]) if len(bound) < 2
         else py_lex_lt(bound, t)),
        (columns_leq, lambda t: not (py_lex_lt(bound, t[:len(bound)])
                                     if len(bound) < 2 else py_lex_lt(bound, t))),
        (columns_geq, lambda t: not py_lex_lt(t, bound)),
    ]:
        got = {r["i"] for r in
               tuples_df.where(builder(("x", "y"), bound)).collect()}
        want = {i for i, t in rows.items() if check(t)}
        assert got == want, f"{builder.__name__} {bound}: {got} != {want}"


def test_keys_eq_null_safe(tuples_df):
    """keys_eq matches NULL keys to NULL keys: self-joining every
    2-tuple over {None, 1, 2} x {None, 'a', 'b'} pairs each row with
    exactly itself, the NULL-keyed rows included."""
    got = (tuples_df.alias("l")
           .join(tuples_df.alias("r"), on=keys_eq(("x", "y"), "l", "r"))
           .select("l.i", "r.i").collect())
    assert sorted(tuple(r) for r in got) == [(i, i) for i in range(len(VALUES))]


def test_lex_cmp_nulls_first():
    assert nullable_cmp(None, 1) == -1
    assert nullable_cmp(1, None) == 1
    assert nullable_cmp(None, None) == 0
    assert lex_cmp((None, 5), (1, 0)) == -1
    assert lex_cmp((1, None), (1, 0)) == -1
    assert lex_cmp((1, 0), (1, 0)) == 0
    assert lex_cmp((2,), (1, 9)) == 1


def test_lex_key_sorting():
    bounds = [(2, "a"), (None, "z"), (1, None), (1, "a")]
    assert sorted(bounds, key=lex_key) == [(None, "z"), (1, None), (1, "a"), (2, "a")]


def test_sort_partitions():
    lbs = [(3,), (None,), (1,)]
    ubs = [(4,), (0,), (2,)]
    assert sort_partitions(lbs, ubs) == [1, 2, 0]


def test_interval_and_temporal_types(spark):
    # temporal + interval index columns order correctly (survey §7.4 trap 3)
    rows = [
        (dt.date(2022, 1, 1), dt.timedelta(hours=5)),
        (dt.date(2022, 1, 1), None),
        (None, dt.timedelta(hours=1)),
        (dt.date(2022, 1, 2), dt.timedelta(hours=0)),
    ]
    df = spark.createDataFrame(rows, "d date, h interval day to second")
    got = [tuple(r) for r in
           df.where(columns_lt(("d", "h"), (dt.date(2022, 1, 1), dt.timedelta(hours=5))))
           .collect()]
    assert set(got) == {(dt.date(2022, 1, 1), None), (None, dt.timedelta(hours=1))}
