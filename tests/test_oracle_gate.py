"""Every registry query against its DuckDB oracle at sf0.001.

The comparison is ``scripts/check_entry.compare``: row count, column-name
set and the order-insensitive ``canonical_hash`` of the values.
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "scripts"))

from check_entry import compare  # noqa: E402
from dggstools_spark.queries import ORACLES, QUERIES, TABLES  # noqa: E402


@pytest.fixture(scope="module")
def duck(sf_dir):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    yield con
    con.close()


@pytest.mark.parametrize("name", list(QUERIES))
def test_query_matches_oracle(spark, sf_dir, duck, name):
    sdf = QUERIES[name](spark, sf_dir).toPandas()
    odf = duck.execute(ORACLES[name]).fetchdf()
    rows_ok, cols_ok, hash_ok = compare(sdf, odf)
    assert cols_ok, (sorted(sdf.columns), sorted(odf.columns))
    assert rows_ok, (len(sdf), len(odf))
    assert hash_ok
