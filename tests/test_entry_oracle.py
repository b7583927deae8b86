"""Drive the full driver contract locally: every __spark_entry__.queries()
entry must hash-match its oracle_sql() twin on DuckDB (sf0.001 here for
speed; the driver runs sf0.01 — scripts/check_oracle.py replicates that)."""

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as entry_mod
from tests.oracle_utils import compare, duck_connection

SF_DIR = "/root/testdata/sf0.001"

QUERIES = entry_mod.queries()
ORACLES = entry_mod.oracle_sql()


@pytest.fixture(scope="module")
def duck():
    con = duck_connection(SF_DIR)
    yield con
    con.close()


# every registered query now carries an exact SQL twin (create_mem_diff
# and k_core_nodes gained theirs in rounds 2-3); keep the set so a future
# genuinely-non-SQL-expressible op documents itself here
NO_ORACLE: set[str] = set()


def test_every_query_has_oracle():
    missing = set(QUERIES) - set(ORACLES) - NO_ORACLE
    assert not missing, f"queries without oracle twins: {missing}"


def test_gate_count_under_driver_cap():
    # the recording driver keeps only the first 50 correctness rows; every
    # registered gate must stay visible (round-5 verdict: 62 entries silently
    # dropped 12). Bundle same-family gates into union rows instead of
    # growing past the cap.
    assert len(QUERIES) <= 50, (
        f"{len(QUERIES)} gates > driver cap of 50 — bundle same-family "
        "gates (see 'merged gate bundles' in __spark_entry__.py)"
    )


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert len(df.schema.fields) > 0


@pytest.mark.parametrize("name", sorted(set(QUERIES) - NO_ORACLE))
def test_query_matches_oracle(spark, duck, name):
    df = QUERIES[name](spark, SF_DIR)
    ok, msg = compare(df, duck, ORACLES[name])
    assert ok, f"{name}: {msg}"
