"""NumPy calls compiled to Catalyst expressions (``functions/udf.py``
``_LOWERING`` + ``lowered_sql``) against the pandas-UDF path they
replace, over one edge-value column per input type.

The lowered side goes through ``Table.sql`` (the pre-pass renders the
traced template inline); the pandas-UDF side calls the same function
through its registered pandas UDF by its flat name, which is the path a
call takes when it does not trace.
"""

from __future__ import annotations

import math

import numpy as np
import pytest

from vinum_spark.api.table import Table
from vinum_spark.functions.udf import (
    ensure_udfs_registered,
    lowered_sql,
    register_numpy,
)

NAN, INF = float("nan"), float("inf")
I64_MIN, I64_MAX = -(2**63), 2**63 - 1

#: doubles: NULL, NaN, signed zeros and infinities, negatives, the
#: extremes, and both sides of 2^52 (where FLOOR/CEIL stop being needed)
DOUBLES = [
    None, NAN, 0.0, -0.0, INF, -INF, -1.5, -0.5, 0.5, 1.0, 2.5, -3.0, 0.1,
    1e300, -1e300, 1e-300, 5e-324, 4503599627370495.5, -4503599627370495.5,
    2.0**53 + 2, 1e15 + 0.3, 123.456, -7.25, 710.0, -745.5,
]
#: bigints without NULLs, the wrap-around boundaries included
INTS = [0, 1, -1, 2, -7, 1000, 2**31, -(2**31) - 1, 2**53 + 1, I64_MIN, I64_MAX]
#: bigints with NULLs: a pandas UDF gets these as float64 (pandas has no
#: nullable int64 in its numpy view); see
#: test_nullable_int_arithmetic_keeps_int64_semantics for what differs
NULLABLE_INTS = [None, 0, 1, -1, 2, -7, 1000, None, 2**20, -(2**20) - 3]

EXACT = ["add", "subtract", "multiply", "negative", "absolute", "abs",
         "floor", "ceil", "sqrt", "sign"]
TRANSCENDENTAL = ["log", "log2", "log10", "exp", "sin", "cos", "tan"]
BINARY = {"add", "subtract", "multiply"}


@pytest.fixture(scope="module")
def edge(spark):
    n = max(len(DOUBLES), len(INTS), len(NULLABLE_INTS))
    rows = [
        (
            k,
            DOUBLES[k % len(DOUBLES)],
            DOUBLES[(k * 7 + 3) % len(DOUBLES)],
            INTS[k % len(INTS)],
            INTS[(k * 5 + 2) % len(INTS)],
            NULLABLE_INTS[k % len(NULLABLE_INTS)],
            NULLABLE_INTS[(k * 3 + 1) % len(NULLABLE_INTS)],
        )
        for k in range(n)
    ]
    df = spark.createDataFrame(
        rows, "k int, d double, d2 double, i bigint, i2 bigint, n bigint, n2 bigint"
    ).coalesce(1)
    df.createOrReplaceTempView("lowering_edge")
    return Table(df)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _both(spark, edge, call: str, flat: str):
    """(lowered rows, pandas-UDF rows, lowered type, UDF type) of
    ``call`` and its pandas-UDF spelling ``flat`` over the edge frame."""
    low = edge.sql(f"SELECT k, {call} AS r FROM t ORDER BY k").df
    udf = spark.sql(f"SELECT k, {flat} AS r FROM lowering_edge ORDER BY k")
    assert "EvalPython" not in _plan(low), call
    assert "ArrowEvalPython" in _plan(udf), flat
    got = [r.r for r in low.collect()]
    want = [r.r for r in udf.collect()]
    return got, want, low.schema["r"].dataType, udf.schema["r"].dataType


def _assert_same(got, want, exact: bool, label: str):
    assert [g is None for g in got] == [w is None for w in want], (label, got, want)
    a = np.array([g for g in got if g is not None], dtype="float64")
    b = np.array([w for w in want if w is not None], dtype="float64")
    if exact:
        np.testing.assert_array_equal(a, b, err_msg=label)
    else:
        np.testing.assert_array_max_ulp(a, b, maxulp=4)


@pytest.mark.parametrize("fn", EXACT + TRANSCENDENTAL)
@pytest.mark.parametrize("cols", [("d", "d2"), ("i", "i2"), ("n", "n2")])
def test_lowered_ufunc_matches_pandas_udf(spark, edge, fn, cols):
    arity = 2 if fn in BINARY else 1
    args = ", ".join(cols[:arity])
    assert lowered_sql(f"np.{fn}", arity) is not None, fn
    ensure_udfs_registered(spark, [(f"np.{fn}", arity)])
    got, want, t_low, t_udf = _both(
        spark, edge, f"np.{fn}({args})", f"np_{fn}_a{arity}({args})"
    )
    assert t_low == t_udf
    _assert_same(got, want, fn in EXACT, f"np.{fn}({args})")


# lambdas, not module functions: cloudpickle ships a lambda by value,
# while a test-module function would be imported by name on the worker
@pytest.mark.parametrize("name, fn, exact", [
    ("lowering_disc_price", lambda price, discount: price * (1.0 - discount), True),
    ("lowering_composite",
     lambda x, y: -np.floor(x) * 2 + np.log(np.abs(y) + 1.0) - np.sqrt(np.abs(x)) * np.pi,
     False),
])
@pytest.mark.parametrize("cols", [("d", "d2"), ("i", "i2"), ("n", "n2")])
def test_traced_register_numpy_matches_pandas_udf(spark, edge, name, fn, exact, cols):
    register_numpy(name, fn, "double")
    assert lowered_sql(name, 2) is not None
    ensure_udfs_registered(spark)
    call = f"{name}({cols[0]}, {cols[1]})"
    got, want, t_low, t_udf = _both(spark, edge, call, call)
    assert t_low == t_udf
    _assert_same(got, want, exact, call)


def test_nullable_int_arithmetic_keeps_int64_semantics(spark, edge):
    """The one documented difference: a pandas UDF sees a bigint column
    holding a NULL as float64, so its arithmetic stops wrapping at 2^63
    (and rounds past 2^53). The lowered call keeps numpy's int64 — the
    value the same UDF returns for a batch without NULLs."""
    register_numpy("lowering_square", lambda x: x * x, "double")
    ensure_udfs_registered(spark)
    df = spark.createDataFrame([(0, 2**40), (1, None)], "k int, v bigint").coalesce(1)
    q = "SELECT k, lowering_square(v) AS r FROM t ORDER BY k"
    got = [r.r for r in Table(df).sql(q).df.collect()]
    assert got == [0.0, None]  # 2**80 wraps to 0 in int64
    df.createOrReplaceTempView("t")
    assert [r.r for r in spark.sql(q).collect()] == [2.0**80, None]


@pytest.mark.parametrize("body", [
    lambda x: x if x > 0 else -x,          # bool() on a column
    lambda x: x[0] * 2,                    # indexing
    lambda x: x.mean(),                    # attribute access
    lambda x: np.round(x, 1),              # not in the table
    lambda x: x / 2.0,                     # division stays a UDF
    lambda x: np.var(x) + x,               # reduction
    lambda x: np.corrcoef(x, x)[0, 1],     # reduction
    lambda x: np.isnan(x) * 1.0,           # maps NaN (a NULL) to non-NaN
])
def test_untraceable_bodies_stay_udfs(body):
    register_numpy("lowering_untraceable", body, "double")
    assert lowered_sql("lowering_untraceable", 1) is None


def test_non_double_return_stays_udf():
    register_numpy("lowering_float32", lambda x: x * 2, "float")
    assert lowered_sql("lowering_float32", 1) is None
    # inferred: np.floor(x) == x probes as boolean
    register_numpy("lowering_isint", lambda x: np.floor(x) == x)
    assert lowered_sql("lowering_isint", 1) is None


def test_constants_render_as_spark_doubles():
    register_numpy("lowering_consts", lambda x: (x + 1e300) * 0.1 - math.inf + 2)
    tpl = lowered_sql("lowering_consts", 1)
    assert "(1e+300D)" in tpl and "(0.1D)" in tpl and "DOUBLE('-inf')" not in tpl
    assert "DOUBLE('inf')" in tpl and "(2)" in tpl


def test_nondeterministic_argument_stays_udf():
    from vinum_spark.sqlprep.rewrite import rewrite_sql

    out, np_funcs = rewrite_sql("SELECT np.floor(rand()) FROM t", lower=lowered_sql)
    assert np_funcs == {("np.floor", 1)} and "np_floor_a1(rand())" in out
