"""The benchmark's workloads: which queries, at which scale, set up how.

``presto_sql_sf0.01`` sends Presto-dialect SQL text through
``Engine.sql`` (dialect translation, statement routing, Catalyst, many
short jobs).  ``pipeline_sf0.1`` calls registry builders that construct
DataFrames in Python, launch Spark jobs while building and run the
Python/Arrow UDFs.  Why each statement set is what it is, and what was
left out, is in README.md next to this file.
"""

from __future__ import annotations

import inspect
from collections.abc import Callable
from dataclasses import dataclass

# Rows left out of a workload they would otherwise belong to, and why.
EXCLUDED = {
    "tpcds_q63_monthly_vs_avg_buckets":
        "its yr_avg column rounds sum/count of integer cents to 2 places; on "
        "this data one yearly average is an exact half cent, which Spark's "
        "round(DOUBLE) takes up (139058.40) and DuckDB's down (139058.39)",
}

# Bench rows that carry the builder and Python-boundary layers: three
# whose builders launch Spark jobs (10-11 each, bpe 3) and the three that
# spend the most Python-worker CPU.  An even count keeps the median
# between two rows instead of on one.
PIPELINE_ROWS = (
    "llm_dedup_clusters", "llm_lsh_near_dedup", "llm_bpe_train",
    "llm_multimodal_audio_wav", "llm_warc_extract",
    "sketch_quantile_mergeable_rollup",
)


@dataclass(frozen=True)
class Item:
    """One query of a workload and the DuckDB SQL that checks it."""

    name: str
    oracle: str
    text: str | None = None  # Presto SQL for Engine.sql; None: registry builder


@dataclass(frozen=True)
class Workload:
    name: str
    sf: float
    engine: bool     # True: Engine.sql text; False: registry builders
    # How many of the workload's statements, in listed order and the same
    # for every seed, run unmeasured before the measured pass.  A fresh
    # JVM makes the first statements slow (JIT, class loading; the first
    # Engine.sql statement takes about 2 s more than warm), and without a
    # warm-up that cost lands on whichever statements the seed puts first.
    # The builders' cold cost (first builder jobs, UDF module imports in
    # the workers) is close to half a cold pass, so pipeline warms up with
    # all of them.  Six Engine.sql statements take the first statement's
    # 2 s; what is left fades over the next twenty or so, and a warm-up
    # of ten did not make the measured pass steadier.
    warm_up: int

    def items(self) -> list[Item]:
        from presto_spark.queries import REGISTRY

        if not self.engine:
            return [Item(n, REGISTRY[n].oracle) for n in PIPELINE_ROWS]
        out = []
        for name, q in REGISTRY.items():
            text = _closure_text(q.spark)
            if name in EXCLUDED:
                continue
            if "presto_text" in text:
                out.append(Item(name, q.oracle, text["presto_text"]))
            elif "bench" in q.tags and text.get("spark_sql") == q.oracle:
                out.append(Item(name, q.oracle, text["spark_sql"]))
        return out

    def set_up(self, spark, data_dir: str) -> Callable[[Item], object]:
        """Register what the workload's queries need on ``spark`` and
        return the function that builds an item's DataFrame."""
        if self.engine:
            from presto_spark.engine import Engine

            eng = Engine(spark, data_dir)
            return lambda item: eng.sql(item.text)
        from presto_spark.queries import REGISTRY
        from presto_spark.queries.base import prepare

        prepare(spark, data_dir)
        return lambda item: REGISTRY[item.name].spark(spark, data_dir)


def _closure_text(fn) -> dict[str, str]:
    """The SQL text a SQL-defined registry row's builder closes over."""
    try:
        free = inspect.getclosurevars(fn).nonlocals
    except TypeError:
        return {}
    return {k: v for k, v in free.items()
            if k in ("spark_sql", "presto_text") and isinstance(v, str)}


WORKLOADS = {w.name: w for w in (
    Workload("presto_sql_sf0.01", 0.01, True, 6),
    Workload("pipeline_sf0.1", 0.1, False, len(PIPELINE_ROWS)),
)}
