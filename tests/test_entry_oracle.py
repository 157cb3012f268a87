"""Every queries() entry must match its oracle_sql() — the driver's gate,
replicated locally at sf0.001 (fast) for all queries."""

from __future__ import annotations

import ast
from collections import Counter

import pytest

import __spark_entry__ as entrymod
from tests.oracle_check import run_compare

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()


def test_every_query_has_callable_shape(spark):
    assert QUERIES, "queries() must not be empty"
    for name in ORACLES:
        assert name in QUERIES, f"oracle {name} has no query"
    # a forgotten oracle would otherwise pass as a rows-only query
    assert set(QUERIES) - set(ORACLES) == {"pca_projection"}


def test_entry_module_binds_each_name_once():
    """A second top-level ``def q_x`` or ``ORACLE_X = ...`` silently
    shadows the first, so the first never runs and no test notices."""
    with open(entrymod.__file__) as f:
        tree = ast.parse(f.read())
    names = []
    for node in tree.body:
        if isinstance(node, ast.FunctionDef):
            names.append(node.name)
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            names += [t.id for t in targets if isinstance(t, ast.Name)]
    dups = sorted(n for n, c in Counter(names).items() if c > 1)
    assert not dups, f"bound twice at module level: {dups}"


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle_smoke(spark, duck_smoke, name):
    if name not in ORACLES:
        df = QUERIES[name](spark, "/root/testdata/sf0.001")
        assert df.count() >= 0  # rows-only check, as the driver does
        return
    n = run_compare(
        spark, duck_smoke, QUERIES[name], ORACLES[name], "/root/testdata/sf0.001", name
    )
    assert n > 0, f"{name}: oracle compare ran on empty result"


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert len(df.schema.fields) > 0


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_output_has_no_nested_columns(spark, name):
    """The grading driver canonicalizes with a raw pandas sort_values, which
    crashes on list/dict cells (round-1 postmortem: 5 red queries).  No
    queries() output may carry an array/map/struct column — serialize at the
    contract surface (``_csv``) instead."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    df = QUERIES[name](spark, "/root/testdata/sf0.001")
    bad = [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]
    assert not bad, f"{name}: nested output columns would crash the driver: {bad}"


def test_compare_frames_rejects_negative_zero():
    """The structural signed-zero gate: a -0.0 in EITHER frame must fail the
    compare even when the values are numerically equal — the driver's
    value-hash distinguishes repr(-0.0) from repr(0.0) (round-2 red row)."""
    import pandas as pd

    from tests.oracle_check import compare_frames

    good = pd.DataFrame({"x": [0.0, 1.5]})
    bad = pd.DataFrame({"x": [-0.0, 1.5]})
    with pytest.raises(AssertionError, match="-0.0"):
        compare_frames(bad, good, "negzero")
    with pytest.raises(AssertionError, match="-0.0"):
        compare_frames(good, bad, "negzero")
    compare_frames(good, good.copy(), "negzero-ok")
    inf = pd.DataFrame({"x": [float("inf"), 1.5]})
    with pytest.raises(AssertionError, match="Infinity"):
        compare_frames(inf, good, "inf")
    with pytest.raises(AssertionError, match="Infinity"):
        compare_frames(good, inf, "inf")


def test_assert_no_nan_distinguishes_null_from_nan(spark):
    """NaN gate: real NaN in a double column fails; NULL passes (pandas
    collapses both to NaN, so this must be checked Spark-side)."""
    from tests.oracle_check import assert_no_nan

    ok = spark.sql("SELECT * FROM VALUES (1.0), (CAST(NULL AS DOUBLE)) t(x)")
    assert_no_nan(ok, "nulls-ok")
    bad = spark.sql(
        "SELECT * FROM VALUES (1.0), (CAST('NaN' AS DOUBLE)) t(x)"
    )
    with pytest.raises(AssertionError, match="NaN"):
        assert_no_nan(bad, "nan-bad")


def test_canonical_rows_rejects_list_cells():
    """oracle_check must be exactly as strict as the driver: a frame with a
    list-typed cell must fail canonicalization, not be silently tuple-ized."""
    import pandas as pd

    from tests.oracle_check import canonical_rows

    df = pd.DataFrame({"a": [1, 2], "toks": [[1, 2], [3]]})
    with pytest.raises(TypeError):
        canonical_rows(df)
