"""Accounting reports pipeline (load_accounting_data.py analog), chained
end-to-end off the loan-detail fixture output."""

from __future__ import annotations

import datetime as dt

import pytest

from data_pipeline_foundations_spark.pipelines import (
    accounting_detail, accounting_reports, accounting_summary, settled_summary,
)
from data_pipeline_foundations_spark.pipelines.accounting import (
    ACCOUNTING_SUM_COLS, DETAIL_COLUMNS, SETTLED_SUM_COLS, detail_2025,
)
from tests.conftest import LOAN_AS_OF


@pytest.fixture(scope="module")
def detail(loan_fact_df):
    return accounting_detail(loan_fact_df)


def test_detail_projection_contract(detail):
    assert detail.columns == DETAIL_COLUMNS  # the 35-column P1 projection


def test_underpaid_and_overpaid_flags(detail):
    rows = {r.UserLoanId: r for r in detail.collect()}
    # loan 2 was bumped to TotalAmountDue by the repaid adjustment → not underpaid
    assert rows["2"].UnderpaidFlag is False
    # loan 7: overpay (arcus 300 + stripe 250 + cash 30 - dispute 250 = 330
    # vs due 400+40+6.4 = 446.4) → actually underpaid active loan: no flag
    assert rows["7"].UnderpaidFlag is False  # not repaid ⇒ never flagged
    assert rows["7"].OverpaidAmount == 0.0
    # ApportionedAmountPaid caps at due when overpaid, else equals paid
    for r in rows.values():
        if r.TotalAmountPaid > r.TotalAmountDue:
            assert r.ApportionedAmountPaid == pytest.approx(round(r.TotalAmountDue, 2))
            assert r.OverpaidAmount == pytest.approx(
                round(r.TotalAmountPaid - r.TotalAmountDue, 2))
        else:
            assert r.ApportionedAmountPaid == pytest.approx(round(r.TotalAmountPaid, 2))


def test_month_truncation(detail):
    r = {x.UserLoanId: x for x in detail.collect()}["1"]
    assert r.IssueMonth == dt.datetime(2025, 1, 1)
    assert r.SettledAtMonth == dt.datetime(2025, 1, 1)
    assert r.DueDateMonth == dt.datetime(2025, 2, 1)


def test_detail_2025_fee_ratio(detail):
    d = {x.UserLoanId: x for x in detail_2025(detail).collect()}
    # loan 1 issued 2025-01-01 UTC = 2024-12-31 CDMX → correctly excluded
    assert "1" not in d
    assert d["7"].FeeRatio == pytest.approx(40.0 / 400.0)


def test_accounting_summary_by_issue_month(detail):
    out = {r.IssueMonthCDMX: r for r in
           accounting_summary(detail, as_of=LOAN_AS_OF).collect()}
    # as_of 2025-07-01 → cutoff 2025-06-30; all issue months < cutoff remain
    assert dt.datetime(2025, 1, 1) in out or dt.datetime(2024, 12, 1) in out
    # sums are 2-dp exact money
    for r in out.values():
        for c in ("PrincipalAmount", "TotalAmountDue", "PrincipalPaid"):
            v = r[c]
            assert v == pytest.approx(round(v, 2))


def test_settled_summary_drops_null_group(detail, spark):
    out = settled_summary(detail, as_of=LOAN_AS_OF)
    # pandas groupby drops the NaN key (unsettled loans); parity demands
    # no null month row here
    assert out.filter("SettledAtMonthCDMX IS NULL").count() == 0
    months = [r.SettledAtMonthCDMX for r in out.collect()]
    assert months == sorted(months)


def test_accounting_reports_equal_the_two_summaries(detail):
    """The grouping-sets fan-out returns A5's and A6's rows unchanged,
    tagged by report, each with its own cutoff and with A6's null group
    dropped; the era ratio matches the detail_2025 slice's cents ratio."""
    from pyspark.sql import functions as F

    era = "2025-01-01"
    got = {(r.report, r.month): r.asDict() for r in
           accounting_reports(detail, as_of=LOAN_AS_OF, era=era).collect()}
    want = {}
    for r in accounting_summary(detail, as_of=LOAN_AS_OF).collect():
        want[("accounting", r.IssueMonthCDMX)] = {
            c: r[c] for c in ACCOUNTING_SUM_COLS} | {"DisputeAmount": None}
    for r in settled_summary(detail, as_of=LOAN_AS_OF).collect():
        want[("settled", r.SettledAtMonthCDMX)] = dict.fromkeys(
            ACCOUNTING_SUM_COLS) | {c: r[c] for c in SETTLED_SUM_COLS}
    assert set(got) == set(want)
    assert any(k[0] == "settled" for k in want)
    cents = "sum(cast(floor({c} * 100.0D + 0.5D) as bigint))"
    ratios = {r.IssueMonthCDMX: r.ratio for r in
              detail_2025(detail, era=era).groupBy("IssueMonthCDMX").agg(
                  (F.expr(cents.format(c="Fee")).cast("double")
                   / F.expr(cents.format(c="PrincipalAmount"))
                   .cast("double")).alias("ratio")).collect()}
    assert ratios
    for (report, month), row in got.items():
        assert {c: row[c] for c in want[(report, month)]} \
            == want[(report, month)]
        assert row["era_fee_ratio"] == (
            ratios.get(month) if report == "accounting" else None)
