"""Property-based verification of the waterfall apportionment (U1).

SURVEY.md §5.3: random amounts/fees → the closed-form column-expression
waterfall must equal an independent Python implementation of the
reference semantics row for row, and conservation must hold. Hypothesis
generates the cases; one Spark job evaluates the whole batch.
"""

from __future__ import annotations

import pytest
from hypothesis import given, settings, strategies as st

from data_pipeline_foundations_spark.operators.waterfall import waterfall_columns

money = st.decimals(min_value=0, max_value=50_000, places=2).map(float)


def _py_waterfall(paid, principal, fee, late_fee, rnd=round):
    """Independent Python twin (reference semantics, SURVEY.md §2.9 U1)
    over 2-dp bucket inputs with derived 16% taxes."""
    tax_fee, tax_late = rnd(fee * 0.16, 2), rnd(late_fee * 0.16, 2)
    remaining = min(paid, principal + fee + tax_fee + late_fee + tax_late)
    if remaining >= late_fee + tax_late:
        lf, lft = late_fee, tax_late
        remaining -= late_fee + tax_late
    else:
        lf = rnd(remaining / 1.16, 2)
        lft = rnd(remaining - lf, 2)
        remaining = 0
    if remaining >= fee + tax_fee:
        fp, fpt = fee, tax_fee
        remaining -= fee + tax_fee
    else:
        fp = rnd(remaining / 1.16, 2)
        fpt = rnd(remaining - fp, 2)
        remaining = 0
    pp = rnd(min(remaining, principal), 2)
    return lf, lft, fp, fpt, pp


@settings(max_examples=20, deadline=None)
@given(st.lists(st.tuples(money, money, money, money), min_size=1, max_size=40))
def test_waterfall_matches_python_reference(spark, cases):
    df = spark.createDataFrame(
        [(i, p, pr, f, lf) for i, (p, pr, f, lf) in enumerate(cases)],
        "row_id long, amount_paid double, principal double, fee double, late_fee double")
    out = {r.row_id: r for r in
           waterfall_columns(df, half_even=True).collect()}
    for i, (paid, principal, fee, late_fee) in enumerate(cases):
        lf, lft, fp, fpt, pp = _py_waterfall(paid, principal, fee, late_fee)
        r = out[i]
        assert r.late_fee_paid == pytest.approx(lf, abs=1e-9), (i, "late_fee_paid")
        assert r.tax_on_late_fee_paid == pytest.approx(lft, abs=1e-9)
        assert r.fee_paid == pytest.approx(fp, abs=1e-9)
        assert r.tax_on_fee_paid == pytest.approx(fpt, abs=1e-9)
        assert r.principal_paid == pytest.approx(pp, abs=1e-9)
        # conservation: buckets sum to the allocated amount within a cent
        # per partial-bucket rounding step
        allocated = min(paid, r.total_due)
        assert (lf + lft + fp + fpt + pp) == pytest.approx(allocated, abs=0.021)
        # never over-pays any bucket
        assert lf <= late_fee + 0.011 and fp <= fee + 0.011
        assert pp <= principal + 1e-9


def test_waterfall_hostile_column_names(spark):
    """Caller column names go into the SQL text through quote_ident:
    names holding a backtick and a space give the same values as the
    plain names."""
    plain = spark.createDataFrame(
        [(0, 500.0, 1000.0, 100.0, 30.0), (1, 50.0, 200.0, 20.0, 10.0),
         (2, 2000.0, 900.0, 90.0, 0.0)],
        "row_id long, amount_paid double, principal double, fee double, "
        "late_fee double")
    names = {"amount_paid": "paid `amt`", "principal": "prin cipal`",
             "fee": "`fee", "late_fee": "late fee"}
    hostile = plain
    for old, new in names.items():
        hostile = hostile.withColumnRenamed(old, new)
    outputs = ["tax_on_fee", "tax_on_late_fee", "total_due",
               "late_fee_paid", "tax_on_late_fee_paid", "fee_paid",
               "tax_on_fee_paid", "principal_paid"]
    want = waterfall_columns(plain).select("row_id", *outputs)
    got = waterfall_columns(hostile, **names).select("row_id", *outputs)
    assert sorted(want.collect()) == sorted(got.collect())
