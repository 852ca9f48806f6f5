"""Every registry gate against its DuckDB oracle through
``janus_spark.oracle.check_gate``, one case per gate, each on a scale
where its result is non-empty (an empty result would make the compare
vacuous)."""

from pathlib import Path

import pytest

from janus_spark import oracle
from janus_spark.queries import QUERIES, oracles

# Gates empty at the suite's sf0.001 and the scale they are checked at
# instead.  q_tpch_nation_volume keeps suppliers of NATION_1/NATION_2:
# none of the 10 suppliers at sf0.001 is in either nation; sf0.01 gives
# 4 rows.
NONEMPTY_SCALE = {"q_tpch_nation_volume": "sf0.01"}


@pytest.fixture(scope="module")
def duck():
    cons = {}

    def con(sf_dir):
        if sf_dir not in cons:
            cons[sf_dir] = oracle.connect(sf_dir)
        return cons[sf_dir]

    yield con
    for c in cons.values():
        c.close()


@pytest.mark.parametrize("name", list(QUERIES))
def test_gate_matches_oracle(spark, sf_dir, duck, name):
    if name in NONEMPTY_SCALE:
        sf_dir = str(Path(sf_dir).with_name(NONEMPTY_SCALE[name]))
    ok, rows, msg = oracle.check_gate(spark, duck(sf_dir), name, sf_dir)
    assert ok, msg
    assert rows, f"{name} is empty on {sf_dir}"


def test_oracles_cover_every_gate(sf_dir):
    assert oracles(sf_dir).keys() == QUERIES.keys()
