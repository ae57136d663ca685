"""Driver-gate replica: every queries() entry vs its DuckDB oracle at
sf0.001 (row count + column set + order-insensitive value hash)."""
import hashlib
import os

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entrymod

SF = os.environ.get("ORACLE_SF_DIR", "/root/testdata/sf0.001")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _value_hash(df: pd.DataFrame) -> str:
    cols = sorted(df.columns)

    def cell(v):
        if isinstance(v, float):
            return f"{v:.6f}"
        return str(v)

    rows = sorted(
        "|".join(cell(v) for v in row)
        for row in df[cols].itertuples(index=False)
    )
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"create view {t} as select * from '{SF}/{t}.parquet'")
    return con


QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()
WITH_ORACLE = sorted(set(QUERIES) & set(ORACLES))
ROWS_ONLY = sorted(set(QUERIES) - set(ORACLES))


def test_every_oracle_key_has_a_query():
    assert set(ORACLES) <= set(QUERIES)


def test_no_rows_only_queries():
    """queries().keys() == oracle_sql().keys(), exactly (VERDICT r5 item
    8): every driver-contract entry carries an oracle twin, so a new
    operator can't silently land with only the weaker rows-only check,
    and the parametrized sweep above covers the full set by
    construction."""
    assert ROWS_ONLY == [], (
        "queries without an oracle twin (add oracle_sql entries): "
        f"{ROWS_ONLY}"
    )


@pytest.mark.parametrize("name", WITH_ORACLE)
def test_oracle_parity(spark, duck, name):
    sdf = QUERIES[name](spark, SF).toPandas()
    ddf = duck.sql(ORACLES[name]).df()
    assert len(sdf) == len(ddf), f"row count {len(sdf)} != {len(ddf)}"
    assert sorted(sdf.columns) == sorted(ddf.columns)
    assert _value_hash(sdf) == _value_hash(ddf)


def test_entry_smoke(spark):
    out = entrymod.entry(spark)
    assert out.count() > 0
    assert {"conv_id", "pred", "obj", "subj", "prob"} <= set(out.columns)
