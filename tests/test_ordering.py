"""Unit tests for null-first lexicographic predicates and comparators,
mirroring the reference's ordering semantics
(/root/reference/src/padawan/ordering.py — behavior, not code)."""

import datetime as dt
from itertools import product

import pytest
from pyspark.sql import functions as F

from padawan_spark.ordering import (
    INCLUSIVE, columns_geq, columns_gt, columns_leq, columns_lt,
    inclusive_ends, keys_eq, lex_cmp, lex_key, nullable_cmp,
    range_predicate, sort_partitions,
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


def py_cmp(t, bound):
    """Ground truth: -1/0/1 comparing t's prefix with ``bound``."""
    p = t[:len(bound)]
    return -1 if py_lex_lt(p, bound) else int(py_lex_lt(bound, p))


OPS = {columns_lt: lambda c: c < 0, columns_leq: lambda c: c <= 0,
       columns_gt: lambda c: c > 0, columns_geq: lambda c: c >= 0}


@pytest.mark.parametrize("bound", [(1, "a"), (2, "b"), (None, "a"), (1, None),
                                   (1,), (None,), (2,)])
def test_predicates_match_python(spark, tuples_df, bound):
    """Every builder, and range_predicate in each inclusive mode up to
    the prefix bound (2,), keeps exactly the rows the Python truth table
    keeps, for literal bounds and for Column bounds read from a joined
    one-row table (their nullness known only per row)."""
    ub = (2,)
    names = [f"b{j}" for j in range(len(bound))]
    bdf = spark.createDataFrame(
        [(*bound, *ub)],
        ", ".join([f"{n} {t}" for n, t in zip(names, ("int", "string"))]
                  + ["u0 int"]))
    preds, want = {}, {}
    for form, lo, hi in [("lit", bound, ub),
                         ("col", [F.col(n) for n in names], [F.col("u0")])]:
        for builder, op in OPS.items():
            preds[f"{builder.__name__}/{form}"] = builder(("x", "y"), lo)
            want[f"{builder.__name__}/{form}"] = lambda t, op=op: op(
                py_cmp(t, bound))
        for inc in INCLUSIVE:
            lo_incl, hi_incl = inclusive_ends(inc)
            preds[f"range {inc}/{form}"] = range_predicate(("x", "y"), lo,
                                                            hi, inc)
            want[f"range {inc}/{form}"] = lambda t, a=lo_incl, b=hi_incl: (
                py_cmp(t, bound) >= (0 if a else 1)
                and py_cmp(t, ub) <= (0 if b else -1))
    rows = tuples_df.crossJoin(bdf).select(
        "i", "x", "y", *[p.alias(n) for n, p in preds.items()]).collect()
    for name in preds:
        # a NULL predicate drops the row, like a false one
        got = {r["i"] for r in rows if r[name]}
        exp = {r["i"] for r in rows if want[name]((r["x"], r["y"]))}
        assert got == exp, f"{name} {bound}: {got} != {exp}"
    assert range_predicate(("x", "y"), None, None, "both") is None
    with pytest.raises(ValueError, match="inclusive"):
        range_predicate(("x", "y"), bound, None, "closed")


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


def test_nan_orders_above_every_number_as_in_spark():
    """Spark orders NaN above every number (infinity included) and equal
    to NaN; the driver-side comparators must agree, since file pruning
    and merge probes compare bounds with them."""
    nan, inf = float("nan"), float("inf")
    assert nullable_cmp(5.0, nan) == -1
    assert nullable_cmp(nan, 5.0) == 1
    assert nullable_cmp(inf, nan) == -1
    assert nullable_cmp(nan, nan) == 0
    assert nullable_cmp(None, nan) == -1
    assert lex_cmp((nan, 1), (nan, 2)) == -1
    got = sorted([(nan,), (1.0,), (None,), (-inf,), (nan,)], key=lex_key)
    assert [repr(b[0]) for b in got] == ["None", "-inf", "1.0", "nan", "nan"]


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
