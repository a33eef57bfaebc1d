"""Bit-parity pins for the LLM scalar tier's SQL spellings (round 14,
VERDICT r13 next-round #3) — the SQL temp-function bodies
(functions/llm_sql.py) must produce EXACTLY what the Column builders
(llm/text.py, llm/dedup.py, llm/mix.py) produce, on real corpus text
and on the edge shapes (empty string, single token, entity-escaped
HTML, NULL)."""

import pytest
from pyspark.sql import functions as F

from presto_spark.functions.registry import (function_table,
                                             register_llm_sql_functions,
                                             registered_functions)
from presto_spark.llm import dedup, mix, text
from tests.conftest import SF_DIR

EDGES = ["", "x", "one two three four", "  padded   whitespace  ",
         "The quick brown fox jumps over the lazy dog and it is fine",
         "<p>First &amp; second &amp;lt;x&amp;gt;</p><br>tail",
         "digits 123 and punct!? mixed", None]


@pytest.fixture(scope="module")
def corpus(spark):
    register_llm_sql_functions(spark)
    docs = (spark.read.parquet(f"{SF_DIR}/documents.parquet")
            .select("doc_id", "text").limit(40))
    edges = spark.createDataFrame(
        [(1000 + i, s) for i, s in enumerate(EDGES)],
        "doc_id long, text string")
    return docs.unionAll(edges)


def _pairs(corpus, sql_expr, column):
    rows = corpus.select(
        F.expr(sql_expr).alias("a"), column.alias("b")).collect()
    assert len(rows) == 48
    return rows


def test_poly_hash_and_fingerprint_parity(corpus):
    for name in ("poly_hash", "fingerprint"):
        for r in _pairs(corpus, f"{name}(text)",
                        text.poly_hash(F.col("text"))):
            assert r.a == r.b


def test_simhash16_parity(corpus):
    for r in _pairs(corpus, "simhash16(text)",
                    dedup.simhash16(F.col("text"))):
        assert r.a == r.b


def test_split_bucket_parity(corpus):
    for r in _pairs(corpus, "split_bucket(CAST(doc_id AS STRING), 42)",
                    mix.split_bucket(F.col("doc_id"), seed=42)):
        assert r.a == r.b  # exact double equality, not approx


def test_html_to_text_parity(corpus):
    for r in _pairs(corpus, "html_to_text(text)",
                    text.html_to_text(F.col("text"))):
        assert r.a == r.b


def test_quality_score_parity(corpus):
    got = corpus.select(
        F.expr("quality_score(text)").alias("a"), "doc_id")
    want = text.quality_score(corpus).select("doc_id", "quality")
    merged = {r.doc_id: r for r in got.join(want, "doc_id").collect()}
    assert len(merged) == 48
    for r in merged.values():
        assert r.a == r.quality  # bit-equal (same rounding stages)


def test_sql_spellings_reachable_via_engine(spark):
    """The facade registers the tier: engine.sql in the Presto dialect
    reaches the names directly."""
    from presto_spark import Engine

    eng = Engine(spark, sf_dir=SF_DIR)
    row = eng.sql(
        "SELECT simhash16('a b c') AS s, poly_hash('abc') AS p, "
        "html_to_text('<b>hi &amp;amp; bye</b>') AS h, "
        "quality_score('one two') AS q, "
        "split_bucket('7', 42) AS bk"
    ).collect()[0]
    assert row.h == "hi &amp; bye" and row.q == 0.0
    assert 0.0 <= row.bk < 1.0 and row.p > 0 and row.s >= 0


def test_registration_is_idempotent_per_session(spark):
    """The session's registered set (kept on the session object, not
    keyed by id(spark) — the address-reuse lesson) holds the whole tier
    after one call, so a second call registers nothing, and the
    functions still resolve afterwards."""
    register_llm_sql_functions(spark)
    tier = {n for n, f in function_table().items() if f.tier == "llm"}
    assert tier <= registered_functions(spark)
    assert register_llm_sql_functions(spark) == []
    assert spark.sql("SELECT poly_hash('abc') AS v").collect()[0].v > 0
