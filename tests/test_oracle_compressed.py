"""The compressed-refine ANN registry entries against their DuckDB
oracles, through the same per-entry compare as tools/oracle_check.py."""

import os
import sys

import pytest

sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

import oracle_check  # noqa: E402

# every registry entry whose plan ends in a quantized shortlist scan and
# the shared exact re-rank
COMPRESSED_REFINE = ["sq8_ann", "bq_ann", "pq_ann", "ivfpq_ann",
                     "ivfpq_adaptive", "ivfpq_residual_ann", "ivfbq_ann",
                     "ivfbq_sq8_ann", "ivfbq_sq8_adaptive"]


@pytest.fixture(scope="module")
def oracle():
    return oracle_check.oracle_connection(), oracle_check.oracle_sql_map()


@pytest.mark.parametrize("name", COMPRESSED_REFINE)
def test_compressed_refine_entry_matches_oracle(spark, oracle, name):
    con, oracles = oracle
    status, line = oracle_check.check_entry(spark, con, oracles, name)
    assert status == "pass", line
