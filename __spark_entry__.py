"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship Janus-QL hybrid-historical query at sf0.001.
``queries()``   — every registry gate, least recently checked first.
``oracle_sql()``— DuckDB-equivalent SQL per query (same column names).
"""

from __future__ import annotations

import json
import os
import re
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: historical fixed-window Janus-QL query over melted events
    (the reference's canonical query shape,
    tests/janus_api_integration_test.rs:142-152)."""
    from janus_spark.queries import q_hist_fixed

    return q_hist_fixed(spark, DEFAULT_SF_DIR)


def last_checked() -> dict[str, int]:
    """Gate -> the newest round N whose ``CORRECTNESS_r<N>.json`` in
    ``ROOT`` names it."""
    last: dict[str, int] = {}
    for fn in os.listdir(ROOT):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", fn)
        if m:
            with open(os.path.join(ROOT, fn)) as f:
                for gate in json.load(f):
                    last[gate] = max(last.get(gate, 0), int(m.group(1)))
    return last


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every registry gate, ordered by the newest round that checked it
    (0 if none), ties in registry order.  The external correctness check
    takes the first 50 and records them in ``CORRECTNESS_r<N>.json``, so
    each round checks the never-checked gates, then the oldest records."""
    from janus_spark.queries import QUERIES

    last = last_checked()
    return {g: QUERIES[g] for g in sorted(QUERIES, key=lambda g: last.get(g, 0))}


def oracle_sql() -> dict[str, str]:
    from janus_spark.queries import oracles

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    return oracles(sf_dir)
