"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash -> CORRECTNESS_r{N}.json).

Engine: ``dygiepp_spark`` — a PySpark-native re-implementation of the
DyGIE++-style KG-construction pipeline (see SURVEY.md).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_HERE = os.path.dirname(os.path.abspath(__file__))
if _HERE not in sys.path:
    sys.path.insert(0, _HERE)

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def _prepare(spark: SparkSession) -> None:
    from dygiepp_spark.plans.session import ensure_pyfiles, tune_session
    tune_session(spark)
    ensure_pyfiles(spark)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: the full KG-extraction pipeline on sf0.001 —
    pages (synthesized, JVM-side) -> extract_text(html) -> tokenize ->
    span enumeration -> beam -> propagation -> biaffine scorers ->
    decode -> (subj, pred, obj) triples. Zero-shuffle narrow plan."""
    _prepare(spark)
    from dygiepp_spark.operators.extract import extract_triples
    from dygiepp_spark.sources.pages import synth_pages

    pages = synth_pages(spark, DEFAULT_SF_DIR).drop("partition_id")
    return extract_triples(pages)[0]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2.

    Each callable takes (spark, sf_dir) and returns a DataFrame.
    Registered in dygiepp_spark/plans/registry.py; every computed
    column is aliased identically in Spark and oracle SQL.
    """
    _HERE not in sys.path and sys.path.insert(0, _HERE)
    from dygiepp_spark.plans.registry import QUERIES
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for every SQL-expressible query;
    non-SQL-expressible ops (model decode, LSH over model mentions,
    connected components) are intentionally absent -> rows-only check.
    """
    from dygiepp_spark.plans.registry import ORACLE_SQL
    return dict(ORACLE_SQL)
