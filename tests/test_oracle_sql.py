"""Spark-free oracle guards: every registered DuckDB oracle must
parse and execute against the sf0.001 tables (catches SQL syntax /
column regressions in seconds, without a Spark session), and must
not emit the exotic types the driver's hasher renders differently
from Spark (HUGEINT/UBIGINT/DECIMAL — the r1 hash-fail class)."""

from __future__ import annotations

import os
import sys
from pathlib import Path

import duckdb
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

from check_oracle import EXOTIC_TYPES, oracle_connection  # noqa: E402

from vectordb_light_spark.queries import ORACLES, QUERIES  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason="driver testdata not present"
)


@pytest.fixture(scope="module")
def con():
    return oracle_connection(SF_DIR)


def test_every_oracle_key_is_a_registered_query():
    assert set(ORACLES) <= set(QUERIES)


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_executes_without_exotic_types(con, name):
    rel = con.sql(ORACLES[name])
    exotic = {
        c: str(t)
        for c, t in zip(rel.columns, rel.types)
        if any(b in str(t) for b in EXOTIC_TYPES)
    }
    assert not exotic, f"CAST these columns: {exotic}"
    con.execute(ORACLES[name]).fetchall()  # must actually run


# ---------------------------------------------------------------------------
# poly31 oracle-twin: the DuckDB rolling-hash fragment must equal the
# numpy implementation character-for-character (three oracles build
# on it: minhash candidates, simhash near-dups, duplicate clusters)
# ---------------------------------------------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=60, deadline=None)
@given(
    st.text(
        alphabet=st.characters(codec="utf-8", exclude_characters="'"),
        min_size=1,
        max_size=40,
    ),
    st.integers(min_value=2, max_value=6),
)
def test_shingle_hash_cte_matches_numpy(text, n):
    from vectordb_light_spark.operators.dedup import _np_shingle_hashes
    from vectordb_light_spark.queries import _shingle_hash_cte

    c = duckdb.connect()
    c.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    c.execute("INSERT INTO documents VALUES (1, ?)", [text])
    # take the canonical string from the CTE itself (canonicalization
    # parity is covered end-to-end by the oracle entries; this
    # property pins the HASH RECURRENCE against the numpy reference)
    canon_rows = c.execute(
        f"WITH {_shingle_hash_cte(n)} SELECT t FROM c"
    ).fetchall()
    canon = canon_rows[0][0] if canon_rows else ""
    want = [int(x) for x in _np_shingle_hashes(canon, n, finalize=False)]
    rows = c.execute(f"WITH {_shingle_hash_cte(n)} SELECT hs FROM h").fetchall()
    got = [int(x) for x in rows[0][0]] if rows else []
    assert got == want


def test_registered_entries_carry_no_unpinned_tokenization_sites():
    """No registered entry's oracle may carry a latent cross-engine
    tokenization site (bare \\s, 1-arg trim, regex \\b). The one
    documented exception is a site living in a CTE shared with other
    entries; those entries are declared PARTIALLY_PINNED in the
    adversarial harness, which reports them as holds-on-margin."""
    from adversarial_oracle_check import PARTIALLY_PINNED
    from audit_cross_engine_tokens import audit

    violations = set(audit()) - set(PARTIALLY_PINNED)
    assert not violations, (
        f"registered entries with unpinned oracle sites: "
        f"{sorted(violations)} — pin them (tools/audit_cross_engine_"
        f"tokens.py prints the rewrites) or declare them "
        f"PARTIALLY_PINNED with the shared-CTE justification"
    )
