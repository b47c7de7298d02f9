"""Fixture-faithful reference pipelines (SURVEY.md §3, §7.1).

Each pipeline is a pure function ``(inputs, as_of) -> DataFrame`` over
FIXTURES.md-shaped DataFrames — no I/O, no ``now()`` (D7: every time
anchor is the injected ``as_of``), one lazy Catalyst plan end-to-end.

The oracle-checked registry analogs in plans/pipelines.py exercise the
same operators over the driver's star schema; these modules reproduce the
reference pipelines' exact column contracts for golden/property tests.
"""

from .accounting import (
    accounting_detail, accounting_reports, accounting_summary, settled_summary,
)
from .arcus_transactions import arcus_transactions
from .collections_strategies import collections_strategies
from .growth_data import refresh_monthly_partitions, transform_facebook_raw
from .loan_detail import loan_detail

__all__ = ["accounting_detail", "accounting_reports", "accounting_summary",
           "settled_summary",
           "arcus_transactions",
           "collections_strategies", "loan_detail",
           "refresh_monthly_partitions", "transform_facebook_raw"]
