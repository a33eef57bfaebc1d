"""Differential correctness for relational-operator and function suites."""

import pytest

from presto_spark.queries import REGISTRY
from tests.conftest import SF_DIR, assert_same

NAMES = [
    n for n, q in REGISTRY.items()
    if {"relational", "functions"} & set(q.tags)
]


@pytest.mark.parametrize("name", NAMES)
def test_query_matches_oracle(spark, duck, name):
    q = REGISTRY[name]
    sdf = q.spark(spark, SF_DIR)
    if q.oracle is None:
        assert sdf.count() >= 0
    else:
        assert_same(sdf, duck, q.oracle)


def test_q63_rounds_an_exact_half_cent_average_alike(spark):
    """tpcds_q63's yearly average of 10000000 and 17811679 cents is
    exactly 13905839.5 cents; both engines must round it up to
    139058.40.  Rounding the DOUBLE average, Spark took it up and
    DuckDB down.  The tiny tables live on a new session, so the shared
    catalog is untouched."""
    import duckdb

    views = {
        "lineitem": """SELECT CAST(k AS BIGINT) AS l_partkey,
                              CAST(p AS DOUBLE) AS l_extendedprice,
                              CAST(d AS TIMESTAMP) AS l_shipdate
                       FROM (VALUES (1, 100000.00, '1995-03-01'),
                                    (1, 178116.79, '1995-04-01')) AS v(k, p, d)""",
        "part": """SELECT CAST(1 AS BIGINT) AS p_partkey,
                          'Brand#1' AS p_brand, 'PROMO X' AS p_type,
                          CAST(5 AS INTEGER) AS p_size""",
    }
    s = spark.newSession()
    con = duckdb.connect()
    for name, sel in views.items():
        s.sql(sel).createOrReplaceTempView(name)
        con.execute(f"CREATE VIEW {name} AS {sel}")
    text = REGISTRY["tpcds_q63_monthly_vs_avg_buckets"].oracle
    got = [tuple(r) for r in s.sql(text).collect()]
    want = con.execute(text).fetchall()
    assert [r[4] for r in got] == [139058.4, 139058.4]
    assert got == want
