"""Registry gates whose fixture is generated in code (``sf_dir`` unused)
and the incremental-store gates (over the sf0.001 tables) checked
against their DuckDB oracles, plus a guard that every gate's temp-dir /
file-stream / memory-sink plumbing goes through the three helpers in
``janus_spark/queries.py``."""

import ast
import inspect
import os
from pathlib import Path

import pytest

from janus_spark import queries
from janus_spark.digest import multiset_digest

SELF_CONTAINED_GATES = [
    "q_live_tumbling_join",
    "q_live_session",
    "q_live_istream",
    "q_live_dstream",
    "q_live_sink_parquet",
    "q_live_baseline_join",
    "q_comparator_stream",
    "q_live_interval_join",
    "q_live_percentile",
    "q_live_topk",
    "q_live_ingest_dedup",
    "q_live_cms",
    "q_live_funnel",
    "q_live_linreg",
    "q_live_attribution",
    "q_live_ohlc",
    "q_live_hll",
    "q_live_match_pattern",
    "q_live_rollup",
    "q_live_validate",
    "q_live_drift",
]


@pytest.mark.parametrize("name", SELF_CONTAINED_GATES)
def test_self_contained_gate_matches_oracle(spark, name):
    """Order-free exact compare: same column set and equal
    (row count, Σ md5(row)) multiset digests on both engines."""
    import duckdb

    _assert_oracle_match(
        spark, name, "unused: the fixture is the stream", duckdb.connect()
    )


# gates that read and extend a persistent incremental store
STORE_GATES = [
    "q_curation_increment",
    "q_curation_increment_select",
    "q_dedup_incremental_minhash",
    "q_live_curation",
    "q_bm25_incremental",
    "q_incremental_agg",
    "q_entity_incremental",
    "q_live_entity_resolution",
]


def _check_correctness_tables() -> list[str]:
    """The ``TABLES`` list of ``scripts/check_correctness.py``, read from
    its source: importing the script would parse this process's argv."""
    src = (Path(__file__).parents[1] / "scripts" / "check_correctness.py").read_text()
    for node in ast.parse(src).body:
        if isinstance(node, ast.Assign) and getattr(node.targets[0], "id", "") == "TABLES":
            return node.value.func.value.value.split()
    raise AssertionError("TABLES not found in scripts/check_correctness.py")


def _assert_oracle_match(spark, name, sf_dir, con):
    sdf = queries.QUERIES[name](spark, sf_dir)
    srows = [tuple(r) for r in sdf.collect()]
    cur = con.execute(queries.ORACLES[name])
    ocols = [d[0] for d in cur.description]
    orows = cur.fetchall()
    assert sorted(sdf.columns) == sorted(ocols)
    assert srows, "an empty result would make the compare vacuous"
    assert multiset_digest(srows, sdf.columns) == multiset_digest(orows, ocols)


@pytest.mark.parametrize("name", STORE_GATES)
def test_store_gate_matches_oracle(spark, sf_dir, name):
    """The same order-free compare over the sf0.001 tables, with the
    DuckDB views built as ``scripts/check_correctness.py`` builds them."""
    import duckdb

    con = duckdb.connect()
    for t in _check_correctness_tables():
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    _assert_oracle_match(spark, name, sf_dir, con)


def test_gate_fixture_plumbing_goes_through_helpers():
    src = inspect.getsource(queries)
    for helper in (queries._scratch_dir, queries._fixture_stream, queries._drain_to_memory):
        body = inspect.getsource(helper)
        assert body in src
        src = src.replace(body, "")
    for token in ("tempfile.mkdtemp", "maxFilesPerTrigger", ".queryName(", "_read_wide"):
        assert token not in src, f"{token} outside the fixture helpers"
