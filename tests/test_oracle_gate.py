"""The correctness gate: every registered entry on Spark against its
DuckDB oracle at sf0.001, checking row count, column names, the
order-insensitive value hash and that no exotic oracle types appear. The
comparison is ``tools/check_oracle.py:check_entry``, the same one the
command-line gate runs."""

from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

from check_oracle import check_entry, oracle_connection  # noqa: E402
from conftest import SF_SMOKE  # noqa: E402

from vectordb_light_spark.queries import ORACLES, QUERIES  # noqa: E402

SF_DIR = SF_SMOKE

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason="sf0.001 testdata not present"
)


@pytest.fixture(scope="module")
def con():
    c = oracle_connection(SF_DIR)
    yield c
    c.close()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_entry_matches_its_oracle(spark, con, name):
    assert name in ORACLES, f"{name} has no oracle"
    failure = check_entry(spark, con, SF_DIR, QUERIES[name], ORACLES[name])
    assert failure is None, failure
