"""Accounting reports pipeline (load_accounting_data.py:30-157).

Consumes the fact_loan table (loan_detail output) and produces:
  - the 35-column repayment detail (P1, :66-104) with underpaid/overpaid
    derivation (P10, :40-58) and month truncations (D4, :60-64);
  - the issue-month accounting summary (A5, :112-118);
  - the settled-month summary (A6, :120-127) — pandas silently drops the
    null group (unsettled loans); Spark keeps it, so the filter is
    explicit here (SURVEY.md §5.5 parity trap);
  - both summaries as one tagged frame from a single grouping-sets
    aggregate (:func:`accounting_reports`), for runs that publish both.

Documented deviation (SURVEY.md §7.4): the reference's 2025 detail filter
compares against the string '205-01-01' (:106) — a typo that makes the
filter a no-op. The intent (IssueMonthCDMX >= 2025-01-01) is implemented
and the deviation noted.

All "today" anchors are the injected ``as_of`` (D7).
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DETAIL_COLUMNS = [
    "UserId", "UserLoanId", "IssueMonth", "IssueMonthCDMX", "IssueDate",
    "IssueDateCDMX", "DueDate", "DueDateMonth", "LoanStatus", "LoanNumber",
    "IsLate", "PrincipalAmount", "Fee", "TaxOnFee", "LateFee", "TaxOnLateFee",
    "TotalAmountDue", "LateFeePaid", "TaxOnLateFeePaid", "FeePaid",
    "TaxOnFeePaid", "PrincipalPaid", "ApportionedAmountPaid",
    "TotalAmountPaid", "OverpaidAmount", "JitOfferPolicy",
    "JitOfferPolicyName", "LastPaidDate", "LastPaidDateCDMX", "SettledAt",
    "SettledAtCDMX", "SettledAtMonth", "SettledAtMonthCDMX", "UnderpaidFlag",
    "DisputeAmount",
]

ACCOUNTING_SUM_COLS = [
    "PrincipalAmount", "Fee", "TaxOnFee", "LateFee", "TaxOnLateFee",
    "TotalAmountDue", "PrincipalPaid", "FeePaid", "TaxOnFeePaid",
    "LateFeePaid", "TaxOnLateFeePaid", "ApportionedAmountPaid",
]
SETTLED_SUM_COLS = [
    "PrincipalPaid", "FeePaid", "TaxOnFeePaid", "LateFeePaid",
    "TaxOnLateFeePaid", "ApportionedAmountPaid", "DisputeAmount",
]


def _last_day_prev_month(as_of: _dt.datetime) -> _dt.date:
    return as_of.date().replace(day=1) - _dt.timedelta(days=1)


_R2 = "(cast(floor(({e}) * 100.0D + 0.5D) as bigint) / 100.0D)"


def _r2s(e: str) -> str:
    """functions.money.round2 as a SQL string (r14 one-parse form)."""
    return _R2.format(e=e)


def accounting_detail(fact_loan: DataFrame) -> DataFrame:
    """The repayment detail projection (:36-104).

    Built as ONE ``selectExpr`` parse instead of per-node Column calls
    (r14 opt; Catalyst-canonical equality with the Column form pinned by
    tests/test_r14_optimizations.py)."""
    over = "TotalAmountPaid > TotalAmountDue"
    d = (fact_loan
         .filter("LoanStatus != 6")
         .selectExpr(
             "*",
             "((TotalAmountPaid < TotalAmountDue) AND (LoanStatus = 2))"
             " AS UnderpaidFlag",
             f"CASE WHEN {over} THEN "
             f"{_r2s('TotalAmountPaid - TotalAmountDue')} "
             "ELSE 0.0D END AS OverpaidAmount",
             f"CASE WHEN {over} THEN {_r2s('TotalAmountDue')} "
             f"ELSE {_r2s('TotalAmountPaid')} END AS ApportionedAmountPaid",
             "date_trunc('month', IssueDate) AS IssueMonth",
             "date_trunc('month', IssueDateCDMX) AS IssueMonthCDMX",
             "date_trunc('month', SettledAt) AS SettledAtMonth",
             "date_trunc('month', SettledAtCDMX) AS SettledAtMonthCDMX",
             "date_trunc('month', DueDate) AS DueDateMonth",
         ))
    return d.select(*DETAIL_COLUMNS)


def detail_2025(detail: DataFrame, *, era: str = "2025-01-01") -> DataFrame:
    """The 2025 slice with FeeRatio (:106-107); implements the INTENT of
    the reference's '205-01-01' typo filter (see module docstring). The
    era boundary is injectable (D7 spirit — the reference hard-codes it)
    so the same slice runs against datasets whose dates live in a
    different range (pl02 uses it over the star schema's 1995-2001
    orders)."""
    return (detail
            .filter(F.col("IssueMonthCDMX") >= F.lit(era).cast("timestamp"))
            .withColumn("FeeRatio", F.col("Fee") / F.col("PrincipalAmount")))


def accounting_summary(detail: DataFrame, *,
                       as_of: _dt.datetime) -> DataFrame:
    """A5 (:112-118): money sums by CDMX issue month, strictly before the
    previous month's last day.

    Sum-then-round (round2(sum(c)), the reference's ``.sum().round(2)``,
    :116) — NOT per-row cents rounding: detail columns like TaxOnFee =
    Fee*0.16 are not 2-dp, and rounding each row before summing can
    drift the monthly total by cents (ADVICE r1)."""
    cutoff = _last_day_prev_month(as_of).isoformat()
    return (detail
            .groupBy("IssueMonthCDMX")
            .agg(*[F.expr(f"{_r2s(f'sum({c})')}").alias(c)
                   for c in ACCOUNTING_SUM_COLS])
            .filter(f"IssueMonthCDMX < CAST('{cutoff}' AS TIMESTAMP)")
            .orderBy("IssueMonthCDMX"))


def settled_summary(detail: DataFrame, *, as_of: _dt.datetime) -> DataFrame:
    """A6 (:120-127): money sums by CDMX settlement month. The explicit
    isNotNull reproduces pandas' silent NaN-group drop. Sum-then-round,
    matching the reference (see accounting_summary)."""
    cutoff = _last_day_prev_month(as_of).isoformat()
    return (detail
            .filter("SettledAtMonthCDMX IS NOT NULL")
            .groupBy("SettledAtMonthCDMX")
            .agg(*[F.expr(f"{_r2s(f'sum({c})')}").alias(c)
                   for c in SETTLED_SUM_COLS])
            .filter(f"SettledAtMonthCDMX <= CAST('{cutoff}' AS TIMESTAMP)")
            .orderBy("SettledAtMonthCDMX"))


def accounting_reports(detail: DataFrame, *, as_of: _dt.datetime,
                       era: str = "2025-01-01") -> DataFrame:
    """A5 and A6 from ONE aggregate: ``GROUPING SETS ((IssueMonthCDMX),
    (SettledAtMonthCDMX))`` over the detail, so both reports share one
    detail scan and one exchange, and the detail needs no cache.

    One row per report month: ``report`` ('accounting' | 'settled'),
    ``month``, the ACCOUNTING_SUM_COLS (the six due-side sums are NULL on
    settled rows), ``DisputeAmount`` (settled rows only) and
    ``era_fee_ratio`` (accounting rows from ``era`` on: SUM(Fee cents) /
    SUM(Principal cents), the detail_2025 slice's fee ratio). Each
    report keeps its own cutoff, and the settled set's NULL group (A6's
    pandas drop) is removed. Row for row equal to
    :func:`accounting_summary` and :func:`settled_summary`, which stay as
    the one-report forms."""
    cutoff = f"CAST('{_last_day_prev_month(as_of).isoformat()}' AS TIMESTAMP)"
    cents = "cast(floor({c} * 100.0D + 0.5D) as bigint)"
    sums = dict.fromkeys(ACCOUNTING_SUM_COLS + SETTLED_SUM_COLS)
    grouped = (detail
               .groupingSets([["IssueMonthCDMX"], ["SettledAtMonthCDMX"]],
                             "IssueMonthCDMX", "SettledAtMonthCDMX")
               .agg(F.expr("grouping(SettledAtMonthCDMX)").alias("_acc"),
                    *[F.expr(_r2s(f"sum({c})")).alias(c) for c in sums],
                    F.expr(f"sum({cents.format(c='Fee')})")
                    .alias("_fee_cents"),
                    F.expr(f"sum({cents.format(c='PrincipalAmount')})")
                    .alias("_prin_cents")))
    acc_only = [c for c in ACCOUNTING_SUM_COLS if c not in SETTLED_SUM_COLS]
    return (grouped
            .filter(f"IF(_acc = 1, IssueMonthCDMX < {cutoff},"
                    f" SettledAtMonthCDMX <= {cutoff})")
            .selectExpr(
                "IF(_acc = 1, 'accounting', 'settled') AS report",
                "IF(_acc = 1, IssueMonthCDMX, SettledAtMonthCDMX) AS month",
                *[f"IF(_acc = 1, {c}, NULL) AS {c}" if c in acc_only else c
                  for c in ACCOUNTING_SUM_COLS],
                "IF(_acc = 1, NULL, DisputeAmount) AS DisputeAmount",
                f"IF(_acc = 1 AND IssueMonthCDMX >= CAST('{era}' AS TIMESTAMP),"
                " CAST(_fee_cents AS DOUBLE) / CAST(_prin_cents AS DOUBLE),"
                " NULL) AS era_fee_ratio"))
