"""Check registry gates against their DuckDB oracles on one sf dir, in the
order of ``__spark_entry__.queries()``; each gate goes through
``janus_spark.oracle.check_gate``.

Usage: python scripts/check_correctness.py [sf_dir] [gate ...]

Prints one ``OK``/``FAIL`` line per gate and ``N queries, M failures``;
exits 1 on any failure.  ``JANUS_DISTRIBUTED_DIGEST=1`` digests the
Spark side executor-side, for stress sweeps (scripts/sweep_sf10.sh).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = set(sys.argv[2:])

# Stress sweeps (sf1/sf10) collect multi-GB results for the compare;
# give the driver room unless the caller already chose.
os.environ.setdefault("JANUS_DRIVER_MEM", "24g")
os.environ.setdefault("JANUS_MAX_RESULT_SIZE", "8g")

import __spark_entry__ as entry_mod  # noqa: E402
from janus_spark.oracle import check_gate, connect  # noqa: E402
from janus_spark.session import get_spark  # noqa: E402


def main():
    spark = get_spark("correctness")
    spark.sparkContext.setLogLevel("ERROR")
    con = connect(SF_DIR)
    # big-oracle spills (wedge joins at sf10) go to the large volume, not cwd
    spill = os.environ.get("JANUS_DUCKDB_TMP", "/tmp/duckdb_spill")
    os.makedirs(spill, exist_ok=True)
    con.execute(f"SET temp_directory='{spill}'")

    results = {}
    for name in entry_mod.queries():
        if ONLY and name not in ONLY:
            continue
        try:
            ok, _, msg = check_gate(spark, con, name, SF_DIR)
        except Exception as e:
            ok, msg = False, f"ERROR: {e}"
        results[name] = (ok, msg)
        print(f"  .. {name}: {msg[:120]}", flush=True)

    width = max(map(len, results), default=0)
    fails = 0
    for name, (ok, msg) in results.items():
        fails += not ok
        print(f"{'OK ' if ok else 'FAIL'} {name:<{width}} {msg[:300]}")
    print(f"\n{len(results)} queries, {fails} failures")
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
