"""Every registry row with an oracle, Spark vs DuckDB at sf0.01: the
comparison selfcheck_oracle.py runs by hand (same column set, row count
and order-insensitive values, floats bitwise), one test per row."""

import duckdb
import pytest

import __spark_entry__ as entry_mod
import selfcheck_oracle
from test_ann import SF_DIR  # the sf0.01 tables the embedding tests read

_ORACLES = entry_mod.oracle_sql()
_QUERIES = entry_mod.queries()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in selfcheck_oracle.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("name", list(_ORACLES))
def test_query_matches_duckdb_oracle(spark, duck, name):
    got = _QUERIES[name](spark, SF_DIR).toPandas()
    want = duck.execute(_ORACLES[name]).fetch_df()
    err = selfcheck_oracle.compare(got, want)
    assert err is None, f"{name}: {err}"
