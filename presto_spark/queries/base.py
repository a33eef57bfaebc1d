"""Query registry plumbing.

Mirrors the reference's differential-test protocol: the same logical query
runs on the engine and on an oracle database, results diffed
(reference: presto-tests/.../QueryAssertions.java:132 assertQuery with the
H2QueryRunner oracle, AbstractTestQueryFramework.java:106-109).  Our
oracle is DuckDB over the same parquet files.

Determinism conventions (so order-insensitive value hashes match):

* Money/double aggregations go through exact DECIMAL casts
  (``DEC2 = DECIMAL(12,2)`` for raw columns, factors as DECIMAL(4,2))
  and only the final value is cast back to DOUBLE — IEEE summation order
  then cannot perturb the result.
* Every computed column is aliased identically in the Spark and oracle
  text.
* count()/sum(bigint) outputs are cast to BIGINT in the oracle (DuckDB
  widens sums to HUGEINT, Spark keeps BIGINT).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from presto_spark.functions.registry import ensure_functions
from presto_spark.sources.catalog import register_tables


def prepare(spark: SparkSession, sf_dir: str) -> None:
    """Register the tables of ``sf_dir`` (once per session).

    Memoized on the session's *current* sf_dir, kept on the session
    object (a key on ``id(spark)`` would let a new session that reuses a
    stopped one's address skip registration) — re-registering rereads
    10 parquet footers per query, pure driver overhead that dominated
    small-SF bench times; switching sf_dir re-registers so the views
    always point at the requested data.  Compat functions are not
    registered here: each builder registers the ones its text calls
    (``registry.ensure_functions``).
    """
    if getattr(spark, "_presto_spark_sf_dir", None) != sf_dir:
        register_tables(spark, sf_dir)
        spark._presto_spark_sf_dir = sf_dir


def run_sql(spark: SparkSession, text: str) -> DataFrame:
    """``spark.sql(text)`` after registering the compat functions that
    ``text`` calls — the one way a builder hands SQL text to Spark."""
    ensure_functions(spark, text)
    return spark.sql(text)


@dataclass
class Query:
    """One engine query + its DuckDB oracle (None → rows-only check)."""

    name: str
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str = ""
    tags: tuple[str, ...] = field(default=())


REGISTRY: dict[str, Query] = {}


def register(name, oracle, doc="", tags=()):
    """Decorator: register fn(spark, sf_dir) -> DataFrame as a Query."""

    def deco(fn):
        REGISTRY[name] = Query(name=name, spark=fn, oracle=oracle, doc=doc, tags=tuple(tags))
        return fn

    return deco


def dual_sql_query(name, spark_sql, duck_sql, doc="", tags=()):
    """Register a query whose Spark and DuckDB texts differ (dialect gap:
    e.g. LATERAL VIEW explode vs UNNEST, get_json_object vs
    json_extract_string)."""
    return sql_query(name, spark_sql, oracle=duck_sql, doc=doc, tags=tags)


def sql_query(name, spark_sql, oracle=None, doc="", tags=()):
    """Register a SQL-defined query; oracle defaults to the same text.

    Most relational queries are plain ANSI SQL that parses identically in
    Spark and DuckDB — write it once.  Pass ``oracle`` explicitly when the
    dialects diverge.
    """

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        prepare(spark, sf_dir)
        return run_sql(spark, spark_sql)

    fn.__name__ = name
    fn.__doc__ = doc or spark_sql
    REGISTRY[name] = Query(
        name=name, spark=fn, oracle=spark_sql if oracle is None else oracle,
        doc=doc, tags=tuple(tags),
    )
    return fn
