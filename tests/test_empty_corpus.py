"""Empty-input robustness sweep: every catalog query must PLAN and RUN
against a corpus where all ten tables exist but hold zero rows.

This is the regression net for a whole class of edge bugs that
small-but-nonempty fixtures never touch: descending F.sequence on
empty token arrays, NULL scalar marks from empty aggregates, division
by zero in ratio columns, collect_list over nothing. At 100 TB these
show up as a partition-empty task, not an empty table — same code
path, so the empty-table sweep is the cheap proxy.
"""

from __future__ import annotations

import os

import pytest

TESTDATA_SF0001 = "/root/testdata/sf0.001"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

needs_testdata = pytest.mark.skipif(
    not os.path.isdir(TESTDATA_SF0001), reason="driver testdata not available"
)


@pytest.fixture(scope="module")
def empty_sf_dir(spark, tmp_path_factory):
    """A scale-factor directory with every table present but empty
    (schemas cloned from sf0.001)."""
    from movie_etl_spark.session import load_table

    root = tmp_path_factory.mktemp("sf_empty")
    for t in TABLES:
        load_table(spark, TESTDATA_SF0001, t).limit(0).write.mode(
            "overwrite"
        ).parquet(str(root / f"{t}.parquet"))
    return str(root)


@needs_testdata
def test_every_query_survives_empty_corpus(spark, empty_sf_dir):
    from movie_etl_spark.plans.catalog import QUERIES
    from movie_etl_spark.session import release_caches

    failures = {}
    for name, qd in QUERIES.items():
        try:
            n = len(qd.fn(spark, empty_sf_dir).collect())
            assert n >= 0
        except Exception as e:  # noqa: BLE001 — collecting the full list
            failures[name] = f"{type(e).__name__}: {str(e)[:160]}"
        finally:
            release_caches()
    assert not failures, f"{len(failures)} queries break on empty input: {failures}"
