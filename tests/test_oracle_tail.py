"""Hard gate for every registry row at the driver's scale (ADVICE r4).

The driver's correctness artifact snapshots only the FIRST 50 registry
entries, so rows rotated past the window would otherwise keep only a
by-convention referee (tools/check_oracle.py run by hand). These tests
replay every entry, the driver's window and the tail past it, against
its DuckDB oracle at the driver's scale (sf0.01) on every pytest run —
a regression in any row fails CI, not just the next manual replay.
"""

from yomitoku_spark.oracle_compare import compare_query, duckdb_connect
from yomitoku_spark.queries import ORACLE, QUERIES

SF_DIR = "/root/testdata/sf0.01"
DRIVER_WINDOW = 50


def _replay(spark, names):
    con = duckdb_connect(SF_DIR)
    failures = []
    for name in names:
        err = compare_query(spark, con, name, QUERIES[name], ORACLE.get(name), SF_DIR)
        if err:
            failures.append(err)
    assert not failures, failures


def test_head_rows_match_oracle(spark):
    _replay(spark, list(QUERIES)[:DRIVER_WINDOW])


def test_tail_rows_match_oracle(spark):
    names = list(QUERIES)[DRIVER_WINDOW:]
    assert names, "registry no longer exceeds the driver window"
    _replay(spark, names)
