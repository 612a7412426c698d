"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship pipeline: derive the transcripts table
(BASELINE.json input_hint shape) from sf0.001 documents, run the distributed
distant-supervision tagger (broadcast trie + per-turn DP inside Arrow UDFs),
entity-link, key each entity by its normalized surface, and return the
(subj, pred, obj) triples DataFrame.

``queries()`` / ``oracle_sql()`` expose each implemented operator with its
DuckDB oracle. The DP tagger chain's twins read golden parquet written by the
Python oracle; pytest also pins that chain to the compiled C++ reference
binary byte-for-byte (tests/test_reference_binary.py ->
tests/test_tagger_spark.py).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from autoner_spark import queries as Q  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return Q.q_kg_triples_dp(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return dict(Q.QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin of every query in ``queries()``; the DP
    chain's twins read golden parquet."""
    return dict(Q.ORACLE_SQL)
