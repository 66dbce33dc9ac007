"""Run every tests/entry_queries.py queries() entry AND its DuckDB
oracle on the same parquet at sf0.001, compare row-count + sorted
values.
"""

import math

import duckdb
import pytest

from tests import entry_queries as entry_mod
from tests.entry_queries import SF_DIR
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    return con


def canon(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 6)
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return v


def rows_canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        tuple(canon(r[i]) for i in order) for r in rows
    )


QUERIES = entry_mod.queries()
ORACLES = entry_mod.oracles()
CHECKED = sorted(set(QUERIES) & set(ORACLES))


def test_oracle_coverage():
    # every oracle key must have a query; most queries must have oracles
    assert set(ORACLES) <= set(QUERIES)
    # every queries() entry has a DuckDB oracle
    assert set(QUERIES) == set(ORACLES)


@pytest.mark.parametrize("name", CHECKED)
def test_query_matches_oracle(spark, ddb, name):
    sdf = QUERIES[name](spark, SF_DIR)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]

    ores = ddb.execute(ORACLES[name])
    ocols = [d[0] for d in ores.description]
    orows = ores.fetchall()

    assert sorted(scols) == sorted(ocols), f"{name}: column mismatch"
    assert len(srows) == len(orows), (
        f"{name}: row count {len(srows)} vs oracle {len(orows)}"
    )
    assert rows_canon(srows, scols) == rows_canon(orows, ocols), (
        f"{name}: value mismatch"
    )


def test_unchecked_queries_run(spark):
    for name in sorted(set(QUERIES) - set(ORACLES)):
        df = QUERIES[name](spark, SF_DIR)
        assert df.count() >= 0, name


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 1
    assert df.columns == ["docid", "score"]
