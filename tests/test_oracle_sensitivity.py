"""Mutation audit of the oracle harness (r13 VERDICT #3).

200-green is only as strong as ``tests/oracle_utils.compare``'s ability
to FAIL. This module proves it: real registry entries are run against
their real DuckDB oracles at sf0.001, then one side is perturbed in a
controlled way and compare() must flag every mutation with the expected
mismatch class. Classes (see oracle_utils.compare):

  schema   — column-name set differs (early return, sole problem)
  rows     — row-count differs ("row count: ...")
  values   — canonical sorted row-tuples differ ("values differ; ...")

Also documents the sensitivity BOUNDARY: _norm_cell rounds floats to 6
decimals, so a sub-1e-6 perturbation of an already-ROUNDed value is
invisible by design (the repo-wide invariant that every oracled float is
ROUND()ed to 6 decimals on both sides is exactly what makes that safe).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from tests.oracle_utils import compare, duckdb_run

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    from workbench_spark.session import get_spark

    return get_spark("oracle-sensitivity")


@pytest.fixture(scope="module")
def pair(spark):
    """One real oracled pair: q1 (strings + ROUNDed floats + bigint
    counts, 4-6 rows at sf0.001) — the flagship entry."""
    import __spark_entry__ as entrymod

    name = "q1_pricing_summary"
    sdf = entrymod.queries()[name](spark, SF)
    pdf = duckdb_run(entrymod.oracle_sql()[name], SF)
    assert compare(sdf, pdf) == [], "unmutated pair must be green"
    assert len(pdf) >= 2, "mutations below need >=2 rows"
    return sdf, pdf


def _float_col(pdf: pd.DataFrame) -> str:
    for c in pdf.columns:
        if pdf[c].dtype.kind == "f":
            return c
    raise AssertionError("no float column")


def _int_col(pdf: pd.DataFrame) -> str:
    for c in pdf.columns:
        if pdf[c].dtype.kind in "iu":
            return c
    raise AssertionError("no int column")


def _str_col(pdf: pd.DataFrame) -> str:
    for c in pdf.columns:
        if pdf[c].dtype.kind == "O":
            return c
    raise AssertionError("no string column")


def _expect(sdf, pdf, cls: str):
    probs = compare(sdf, pdf)
    assert probs, f"mutation NOT caught (expected {cls})"
    joined = " | ".join(probs)
    assert cls in joined, f"expected class {cls!r}, got: {joined}"
    return probs


# ---------------------------------------------------------------- oracle-side


def test_mut_drop_row(pair):
    sdf, pdf = pair
    _expect(sdf, pdf.iloc[:-1].copy(), "row count")


def test_mut_duplicate_row(pair):
    sdf, pdf = pair
    _expect(sdf, pd.concat([pdf, pdf.iloc[[0]]], ignore_index=True), "row count")


def test_mut_flip_sign(pair):
    sdf, pdf = pair
    m = pdf.copy()
    c = _float_col(m)
    assert m.loc[0, c] != 0
    m.loc[0, c] = -m.loc[0, c]
    _expect(sdf, m, "values differ")


def test_mut_round_digit(pair):
    """A 1e-5 perturbation crosses the 6-decimal canonical rounding."""
    sdf, pdf = pair
    m = pdf.copy()
    c = _float_col(m)
    m.loc[0, c] = m.loc[0, c] + 1e-5
    _expect(sdf, m, "values differ")


def test_mut_sub_tolerance_invisible(pair):
    """Boundary documentation: +1e-9 on a value the query already
    ROUND()ed to 6 decimals vanishes under _norm_cell's round(v, 6) —
    this is WHY every oracled float must be ROUNDed on both sides."""
    sdf, pdf = pair
    m = pdf.copy()
    c = _float_col(m)
    m[c] = m[c] + 1e-9
    assert compare(sdf, m) == []


def test_mut_rename_column(pair):
    sdf, pdf = pair
    m = pdf.rename(columns={pdf.columns[0]: "__renamed"})
    probs = _expect(sdf, m, "schema mismatch")
    assert len(probs) == 1  # schema mismatch short-circuits


def test_mut_extra_column(pair):
    sdf, pdf = pair
    m = pdf.copy()
    m["__extra"] = 1
    _expect(sdf, m, "schema mismatch")


def test_mut_null_cell(pair):
    sdf, pdf = pair
    m = pdf.copy()
    c = _str_col(m)
    m.loc[0, c] = None
    _expect(sdf, m, "values differ")


def test_mut_tiebreak_swap(pair):
    """Models a dropped deterministic tiebreaker: two rows exchange one
    column's values (whole-row tuples change even though each column's
    multiset is preserved — exactly what sorted-tuple canon must catch
    and a per-column hash would miss)."""
    sdf, pdf = pair
    m = pdf.copy()
    c = _int_col(m)
    # the oracle has no ORDER BY and two q1 groups share a count, so take
    # the first row whose value differs from row 0's, not row 1
    others = [i for i in range(1, len(m)) if m.loc[i, c] != m.loc[0, c]]
    assert others, "need distinct values to swap"
    j = others[0]
    m.loc[0, c], m.loc[j, c] = m.loc[j, c], m.loc[0, c]
    _expect(sdf, m, "values differ")


def test_mut_int_off_by_one(pair):
    sdf, pdf = pair
    m = pdf.copy()
    c = _int_col(m)
    m.loc[0, c] = m.loc[0, c] + 1
    _expect(sdf, m, "values differ")


def test_mut_nan_vs_value(pair):
    """NaN is canonicalized to the string 'NaN' — it must still differ
    from any real value (never compare-equal, never crash)."""
    sdf, pdf = pair
    m = pdf.copy()
    c = _float_col(m)
    m.loc[0, c] = np.nan
    _expect(sdf, m, "values differ")


# ------------------------------------------------- second pair: other dtypes


def test_mut_timestamp_and_null_pair(spark):
    """Same audit on a timestamp-bearing pair (w1: latest event per user)
    — timestamps canonicalize through str(), so a 1-second shift must be
    caught, and a NULL↔value flip in a timestamp cell must differ from
    both the value and the string 'None'-vs-'NaT' ambiguity."""
    import __spark_entry__ as entrymod

    name = "w1_latest_event_per_user"
    sdf = entrymod.queries()[name](spark, SF)
    pdf = duckdb_run(entrymod.oracle_sql()[name], SF)
    assert compare(sdf, pdf) == []
    tcol = next(c for c in pdf.columns if pdf[c].dtype.kind == "M")
    m = pdf.copy()
    m.loc[0, tcol] = m.loc[0, tcol] + pd.Timedelta(seconds=1)
    _expect(sdf, m, "values differ")
    m2 = pdf.copy()
    m2.loc[0, tcol] = pd.NaT
    _expect(sdf, m2, "values differ")


# ----------------------------------------------------------------- spark-side


def test_mut_spark_limit(pair):
    sdf, pdf = pair
    _expect(sdf.limit(len(pdf) - 1), pdf, "row count")


def test_mut_spark_negate(pair):
    from pyspark.sql import functions as F

    sdf, pdf = pair
    c = _float_col(pdf)
    _expect(sdf.withColumn(c, -F.col(c)), pdf, "values differ")


def test_mut_spark_rename(pair):
    sdf, pdf = pair
    _expect(sdf.withColumnRenamed(pdf.columns[0], "__renamed"), pdf, "schema mismatch")
