"""Kernel-backed queries vs their DuckDB oracles at sf0.01.

x03 (MinHash LSH), x08 (SRP buckets), x12 (cosine near-dup), x20 (IVF)
and x36 (PQ) run vectorized kernels. test_oracle_parity checks them at
the smoke scale; this pin repeats the check one decade up, where the
candidate and bucket sets are large enough that a kernel drift shows.
The DuckDB oracle is the only reference implementation of these
operators.

x08's registered 16-bit buckets hold no same-bucket neighbour for its
10 queries at sf0.01 (both engines return 0 rows), so an extra case runs
the same operator with 8-bit buckets and 50 queries, which gives a
non-empty answer at this scale.
"""

from __future__ import annotations

import os

import pytest

from data_pipeline_foundations_spark.operators.caching import (
    release_cached_intermediates,
)
from data_pipeline_foundations_spark.operators.similarity import (
    oracle_srp_neighbors_sql, srp_bucket_neighbors,
)
from data_pipeline_foundations_spark.registry import all_queries
from data_pipeline_foundations_spark.tables import load

from tests.conftest import open_duck
from tests.test_oracle_parity import assert_frames_match

PINNED = ["x03_dedup_minhash_lsh", "x08_srp_ann", "x12_embedding_near_dup",
          "x20_ivf_ann", "x36_pq_ann"]


@pytest.fixture(scope="module")
def sf001_dir(sf_dir) -> str:
    return os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.01")


@pytest.fixture(scope="module")
def duck_sf001(sf001_dir):
    con = open_duck(sf001_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", PINNED)
def test_kernel_query_matches_oracle_sf001(name, spark, duck_sf001,
                                           sf001_dir):
    spec = all_queries()[name]
    spark_pdf = spec.fn(spark, sf001_dir).toPandas()
    release_cached_intermediates()
    duck_pdf = duck_sf001.execute(spec.oracle).fetchdf()
    assert_frames_match(spark_pdf, duck_pdf, name)


def test_srp_kernel_nonempty_buckets_match_oracle_sf001(spark, duck_sf001,
                                                        sf001_dir):
    emb = load(spark, sf001_dir, "embeddings")
    spark_pdf = srp_bucket_neighbors(emb, bits=8, n_queries=50).toPandas()
    duck_pdf = duck_sf001.execute(
        oracle_srp_neighbors_sql(bits=8, n_queries=50)).fetchdf()
    assert len(spark_pdf) > 0
    assert_frames_match(spark_pdf, duck_pdf, "srp_bucket_neighbors(bits=8)")
