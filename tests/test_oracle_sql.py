"""Every registry row with an oracle, Spark vs DuckDB at sf0.01: the
comparison selfcheck_oracle.py runs by hand (same column set, row count
and order-insensitive values, floats bitwise), one test per row; plus
ts_bayts_change on a hand-made events table of edge values."""

import duckdb
import numpy as np
import pandas as pd
import pytest

import __spark_entry__ as entry_mod
import selfcheck_oracle
from sits_spark import queries
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


def test_bayts_change_edges_match_duckdb_oracle(spark, tmp_path):
    """ts_bayts_change over a NULL run and a far outlier whose two
    densities both underflow to 0: NULL values are skipped, the outlier
    counts for the changed regime, and DuckDB agrees row for row."""
    uid = [1] * 6 + [2] * 2 + [3] * 2
    value = [80.0, None, None, None, 200.0, 200.0, 1e4, 200.0, None, None]
    events = pd.DataFrame({
        "event_id": np.arange(len(uid), dtype=np.int64),
        "ts": (pd.Timestamp("2025-01-01") + pd.to_timedelta(np.arange(len(uid)), "min"))
        .astype("datetime64[us]"),
        "user_id": np.array(uid, dtype=np.int64),
        "value": value,
    })
    events.to_parquet(tmp_path / "events.parquet")
    got = queries.ts_bayts_change(spark, str(tmp_path)).toPandas()
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW events AS SELECT * FROM '{tmp_path}/events.parquet'")
        want = con.execute(queries.SQL_TS_BAYTS_CHANGE).fetch_df()
    finally:
        con.close()
    assert selfcheck_oracle.compare(got, want) is None
    flags = dict(zip(got["user_id"], got["change_ts"]))
    # user 1 flags at its second 200 (the NULLs add nothing), user 2 at
    # the outlier, user 3 (all NULL) never
    assert flags == {1: events.ts[5], 2: events.ts[6]}
