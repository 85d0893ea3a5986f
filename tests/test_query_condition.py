"""QueryCondition compiler (P5-P10): the reference's string-expression
language retargeted to pyspark Columns and pyarrow Expressions.

Mirrors test_query_condition.py coverage: every predicate form,
error cases, enum label translation.  Every case runs on both backends
(``_vals``) with the same expected rows.
"""

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from tiledb_py_spark import TileDBError
from tiledb_py_spark.functions.query_condition import (QueryCondition,
                                                       compile_condition)

COLS = {"a", "b", "s", "d", "flag"}
DTYPES = {"a": np.dtype("int64"), "b": np.dtype("float64"),
          "s": np.dtype("<U0"), "d": np.dtype("datetime64[us]"),
          "flag": np.dtype("bool")}


def _frames(spark, pdf):
    """The same pandas rows as a Spark DataFrame and an Arrow table."""
    return spark.createDataFrame(pdf), pa.Table.from_pandas(pdf)


@pytest.fixture(scope="module")
def df(spark):
    return _frames(spark, pd.DataFrame({
        "a": [1, 2, 3, 4, 5],
        "b": [1.0, 2.5, 3.5, 4.0, 5.5],
        "s": ["x", "y", "z", "x", "y"],
        "d": pd.to_datetime(["2020-01-01", "2020-06-01", "2021-01-01",
                             "2021-06-01", "2022-01-01"]),
        "flag": [True, False, True, False, True],
    }))


def _vals(frames, expr, col="a", columns=COLS, dtypes=DTYPES, **kw):
    """Sorted ``col`` values of the rows ``expr`` selects: the Spark
    backend (``df.filter``) and the Arrow backend (``pa.Table.filter`` on
    the same pandas rows) must agree."""
    sdf, tbl = frames
    cond = compile_condition(expr, columns=columns, dtypes=dtypes, **kw)
    got = sorted(r[col] for r in sdf.filter(cond).select(col).collect())
    expr_arrow = QueryCondition(expr).to_arrow(columns=columns,
                                               dtypes=dtypes, **kw)
    assert sorted(tbl.filter(expr_arrow)[col].to_pylist()) == got, expr
    return got


def test_comparisons(df):
    assert _vals(df, "a > 3") == [4, 5]
    assert _vals(df, "a >= 3") == [3, 4, 5]
    assert _vals(df, "a == 2") == [2]
    assert _vals(df, "a != 2") == [1, 3, 4, 5]
    assert _vals(df, "b < 3.0") == [1, 2]


def test_value_on_left_reversal(df):
    """Value-variable auto ordering (query_condition.py:313-336)."""
    assert _vals(df, "3 < a") == [4, 5]
    assert _vals(df, "3 >= a") == [1, 2, 3]


def test_chained_comparison(df):
    assert _vals(df, "2 <= a <= 4") == [2, 3, 4]
    assert _vals(df, "1 < a < 4") == [2, 3]


def test_boolean_combinators(df):
    assert _vals(df, "a > 1 and a < 5") == [2, 3, 4]
    assert _vals(df, "a == 1 or a == 5") == [1, 5]
    assert _vals(df, "(a == 1 or a == 2) and b > 1.5") == [2]
    # &/| follow Python precedence -> parenthesize (reference behavior)
    assert _vals(df, "(a > 1) & (a < 4)") == [2, 3]
    assert _vals(df, "(a == 1) | (a == 2)") == [1, 2]


def test_negation(df):
    assert _vals(df, "not a > 3") == [1, 2, 3]


def test_set_membership(df):
    assert _vals(df, "s in ['x', 'z']") == [1, 3, 4]
    assert _vals(df, "s not in ['x', 'z']") == [2, 5]
    assert _vals(df, "a in [1, 4]") == [1, 4]


def test_string_compare(df):
    assert _vals(df, "s == 'x'") == [1, 4]
    assert _vals(df, "s > 'x'") == [2, 3, 5]


def test_datetime_compare(df):
    assert _vals(df, "d >= '2021-01-01'") == [3, 4, 5]
    assert _vals(df, "d < '2020-07-01'") == [1, 2]


def test_bool_attr(df):
    assert _vals(df, "flag == True") == [1, 3, 5]


def test_attr_val_wrappers(df):
    assert _vals(df, "attr('a') > val(3)") == [4, 5]


def test_unknown_column_raises():
    with pytest.raises(TileDBError):
        compile_condition("zzz > 1", columns=COLS, dtypes=DTYPES)


def test_malformed_raises():
    with pytest.raises(TileDBError):
        compile_condition("a >", columns=COLS, dtypes=DTYPES)
    with pytest.raises(TileDBError):
        compile_condition("a + 1 > 2", columns=COLS, dtypes=DTYPES)


def test_enum_labels(spark):
    """Condition values matched against enum LABELS, translated to codes
    (query_condition.py:248-257)."""
    frames = _frames(spark, pd.DataFrame({"c": [0, 1, 2, 0, 1]}))
    kw = dict(col="c", columns={"c"}, dtypes={"c": np.dtype("int32")},
              enums={"c": {"red": 0, "green": 1, "blue": 2}})
    assert _vals(frames, "c == 'green'", **kw) == [1, 1]
    assert _vals(frames, "c in ['red', 'blue']", **kw) == [0, 0, 2]


def test_null_test(spark):
    frames = _frames(spark, pd.DataFrame({"a": [1, None, 3]}, dtype="Int64"))
    kw = dict(columns={"a"}, dtypes={"a": np.dtype("int64")})
    assert _vals(frames, "a != None", **kw) == [1, 3]
    assert _vals(frames, "a == None", **kw) == [None]
