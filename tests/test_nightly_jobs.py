"""Job-count guard for the nightly run.

The nightly DAG (settle, report, refresh, enrich, calendar, publish) is
bound by the per-job scheduling floor at small scale, so a change that
adds Spark jobs to a stage is a regression even when its results stay
right. Each of the six nightly registry queries is built and written to
parquet under its own job group, then ``rebuild_warehouse`` publishes
the outputs under another; the status tracker's count per group must
not exceed the committed snapshot (tests/nightly_job_counts.json).
The counts come from a second, warm pass, as the nightly job's steady
state.
"""

from __future__ import annotations

import json
import os

import pytest

from data_pipeline_foundations_spark.operators.caching import (
    release_cached_intermediates,
)
from data_pipeline_foundations_spark.registry import all_queries
from data_pipeline_foundations_spark.sources.warehouse import (
    rebuild_warehouse,
)
from tests.conftest import jobs_in_group

NIGHTLY_STAGES = {
    "pl01": "pl01_settlement_pipeline",
    "pl02": "pl02_accounting_reports",
    "pl03": "pl03_growth_month_refresh",
    "pl04": "pl04_arcus_enrichment",
    "u01": "u01_waterfall_apportionment",
    "d11": "d11_calendar_dim",
}
SNAPSHOT = os.path.join(os.path.dirname(__file__), "nightly_job_counts.json")


def _jobs(spark, group: str, fn) -> int:
    return len(jobs_in_group(spark, group, fn)[1])


def test_nightly_job_counts_do_not_rise(spark, sf_dir, tmp_path):
    with open(SNAPSHOT) as f:
        snapshot = json.load(f).get(os.path.basename(sf_dir.rstrip("/")))
    if snapshot is None:
        pytest.skip(f"no job-count snapshot for {sf_dir}")
    queries = all_queries()
    database = "nightly_job_guard"
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {database}")
    try:
        # pass 0 warms the session (first table loads, class loading), whose
        # one-off jobs depend on what ran before; pass 1 is counted
        for k in range(2):
            counts, outputs = {}, {}
            for short, name in NIGHTLY_STAGES.items():
                path = str(tmp_path / f"{k}_{short}")

                def stage(name=name, path=path):
                    (queries[name].fn(spark, sf_dir)
                     .write.mode("overwrite").parquet(path))

                counts[short] = _jobs(spark, f"nightly_guard:{k}:{short}",
                                      stage)
                spark.catalog.clearCache()
                release_cached_intermediates()
                outputs[path] = short
            counts["publish"] = _jobs(
                spark, f"nightly_guard:{k}:publish",
                lambda: rebuild_warehouse(spark, outputs, database=database))
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {database} CASCADE")
    risen = {k: (v, snapshot[k]) for k, v in counts.items()
             if v > snapshot[k]}
    assert not risen, f"jobs per stage rose (now, snapshot): {risen}; " \
                      f"all counts {counts}"
