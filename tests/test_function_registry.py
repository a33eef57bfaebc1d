"""On-demand compat-function registration (functions/registry.py).

A statement registers only the compat functions its text calls, with
their dependencies, on the session that runs it.  These tests use
``spark.newSession()`` so that functions an earlier test registered on
the shared session cannot hide a missing registration.
"""

from __future__ import annotations

import inspect
import re

import pytest

from presto_spark.engine import Engine
from presto_spark.functions.registry import (ensure_functions, function_table,
                                             register_functions,
                                             register_geo_sql_functions,
                                             register_llm_sql_functions,
                                             registered_functions)
from presto_spark.queries import REGISTRY
from presto_spark.queries.base import prepare
from tests.conftest import SF_DIR


def test_whole_table_registers_on_a_fresh_session(spark):
    """The start-up check eager registration used to give: every body
    in the table parses and resolves, dependencies first."""
    s = spark.newSession()
    new = (register_functions(s) + register_geo_sql_functions(s)
           + register_llm_sql_functions(s))
    table = function_table()
    assert sorted(new) == sorted(table) == sorted(registered_functions(s))
    for name, fn in table.items():
        assert all(new.index(d) < new.index(name) for d in fn.calls), name
    assert s.sql("SELECT strpos('hello', 'll') AS p").collect()[0].p == 3
    assert register_functions(s) == []


def test_engine_registers_no_compat_function_up_front(spark):
    s = spark.newSession()
    Engine(s)
    assert registered_functions(s) == set()
    assert not s.catalog.functionExists("strpos")


def test_statement_registers_a_function_with_its_dependencies(spark):
    s = spark.newSession()
    row = Engine(s).sql(
        "SELECT color_interp(0.5, 16711680, 65280) AS c").collect()[0]
    assert row.c is not None
    assert registered_functions(s) == {
        "color_interp", "__hsb_h", "__hsb_s", "__hsb_v", "__hsb_pack"}


def test_names_in_literals_and_comments_register_nothing(spark):
    s = spark.newSession()
    eng = Engine(s)
    row = eng.sql("SELECT 'strpos(a, b)' AS s /* color_interp(1, 2, 3) */"
                  " -- week(x)\n").collect()[0]
    assert row.s == "strpos(a, b)"
    assert registered_functions(s) == set()
    # a quoted or backtick identifier does name a function
    assert eng.sql("SELECT `strpos`('ab', 'b') AS p").collect()[0].p == 2
    assert registered_functions(s) == {"strpos"}


def test_new_session_registers_its_functions_again(spark):
    first, second = spark.newSession(), spark.newSession()
    q = "SELECT strpos('hello', 'll') AS p"
    assert Engine(first).sql(q).collect()[0].p == 3
    assert registered_functions(first) == {"strpos"}
    assert registered_functions(second) == set()
    assert ensure_functions(second, q) == ["strpos"]
    assert second.sql(q).collect()[0].p == 3


def test_prepare_registers_tables_on_each_new_session(spark):
    """The current-sf_dir memo lives on the session object: a key on
    id(spark) lets a new session at a stopped one's address skip
    table registration."""
    first = spark.newSession()
    prepare(first, SF_DIR)
    assert first.catalog.tableExists("nation")
    second = spark.newSession()
    assert not second.catalog.tableExists("nation")
    prepare(second, SF_DIR)
    assert second.catalog.tableExists("nation")
    assert first.table("nation").count() == second.table("nation").count()


def _builder_text(fn) -> str:
    """A registry builder's source plus the SQL strings it closes over
    (the texts of sql_query and Presto-dialect rows)."""
    try:
        free = inspect.getclosurevars(fn).nonlocals.values()
    except TypeError:
        free = ()
    return inspect.getsource(fn) + "\n".join(
        v for v in free if isinstance(v, str))


_WORD_RE = re.compile(r"\b[A-Za-z_]\w*")

FUNCTION_ROWS = [
    name for name, q in REGISTRY.items()
    if {w.lower() for w in _WORD_RE.findall(_builder_text(q.spark))}
    & function_table().keys()
]


@pytest.mark.parametrize("name", FUNCTION_ROWS)
def test_builder_registers_the_functions_it_calls(spark, name):
    """Each registry row whose builder names a compat function builds on
    its own new session: a builder that hands such a name to Spark
    without registering it fails analysis here, where the shared test
    session would have it from an earlier row."""
    s = spark.newSession()
    assert REGISTRY[name].spark(s, SF_DIR).schema.fields
