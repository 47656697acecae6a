from __future__ import annotations

import os
import sys

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from odoo_batch_processing_spark.session import get_spark

    spark = get_spark("tests", cpus=4, shuffle_partitions=4)
    yield spark


@pytest.fixture(scope="session")
def duck():
    from odoo_batch_processing_spark.oracle import duckdb_connection

    return duckdb_connection(SF_SMOKE)


def persistent_rdd_ids(spark) -> set[int]:
    """Ids of the RDDs the session holds persisted (cached relations and
    localCheckpoints alike) — the leak probe for pin/release tests."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
