"""CI-style oracle drift gate: every queries() entry runs against its
DuckDB oracle at sf0.001 on every pytest run, so no query can drift
unnoticed between manual `tools/check_oracle.py` runs.

This gate used to draw a weekly-rotating 25-query subset keyed on the
calendar date.  That made the suite's test ids depend on the day it ran:
two runs a week apart checked different queries, and a pass on one day
said nothing about the queries drawn on the next.  Checking all of them
costs about 3.5 min on 4 cores at sf0.001 and keeps every test id stable.
The module and class keep their old names so test ids stay comparable
across runs.

Uses the same comparison core as the manual tool (15-significant-digit
float normalization, exact ints/strings, NULL vs NaN distinct)."""

import os
import sys

import pytest

sys.path.insert(0, "/root/repo")

SF_DIR = os.environ.get("SPARK_GRAFT_ROTATION_SF", "/root/testdata/sf0.001")

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason="sf0.001 testdata not present"
)


def _entry():
    import __spark_entry__ as entrymod

    return entrymod


def pytest_generate_tests(metafunc):
    if "query_name" in metafunc.fixturenames:
        metafunc.parametrize("query_name", sorted(_entry().queries()))


class TestOracleRotation:
    @pytest.fixture(scope="class")
    def duck(self):
        from tools.check_oracle import duck_views

        con = duck_views(SF_DIR)
        yield con
        con.close()

    def test_query_matches_oracle(self, spark, duck, query_name):
        entrymod = _entry()
        from tools.check_oracle import check_one

        fn = entrymod.queries()[query_name]
        sql = entrymod.oracle_sql().get(query_name)
        ok, msg = check_one(spark, duck, SF_DIR, query_name, fn, sql)
        assert ok, f"{query_name}: {msg}"
