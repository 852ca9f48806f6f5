"""The registry's correctness check: one ``QUERIES`` gate against its
DuckDB oracle over the same sf dir.

:func:`check_gate` passes a gate only when

- both sides have the same set of column names;
- every column's (Spark family, DuckDB family) pair is in ``ALLOWED``,
  the Spark family read from the live schema of the gate's DataFrame;
- the row counts and :func:`~janus_spark.digest.multiset_digest` agree.
  The digest hashes ``repr`` of each normalized row, so ``1`` and
  ``1.0`` differ, as they do in a hash of pandas-rendered values.

Used by ``tests/test_registry.py`` (every gate at sf0.001) and
``scripts/check_correctness.py`` (any sf dir, any gates).

The families say how each engine's pandas conversion renders a column
(probed, not guessed)::

    DuckDB type            -> pandas        family
      TINYINT..BIGINT      -> intN          int
      HUGEINT              -> float64       float   <- int-vs-float class
      FLOAT/DOUBLE         -> floatN        float
      DECIMAL(p,s)         -> float64       decimal (fetchall: Decimal)
      VARCHAR              -> object(str)   str
      BOOLEAN              -> bool          bool
      DATE / TIMESTAMP*    -> datetime64    datetime
      BLOB                 -> object(bytes) bytes
      T[] / LIST           -> object(list)  list

    Spark type             -> pandas        family
      Byte/Short/Int/Long  -> intN          int
      Float/Double         -> floatN        float
      Decimal(p,s)         -> object(Decimal) decimal
      String               -> object(str)   str
      Boolean              -> bool          bool
      Date / Timestamp     -> datetime64    datetime
      Binary               -> object(bytes) bytes
      Array                -> object(list)  list
"""

from __future__ import annotations

import os
from collections import Counter
from typing import NamedTuple

from janus_spark.digest import multiset_digest, norm, spark_multiset_digest

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

# (spark_family, duck_family) pairs that render alike in a hash of
# pandas-rendered values.  int/float (SUM(int) widened to HUGEINT, rendered float64)
# hash-diverges on equal values and must never be added here.
ALLOWED = {
    ("int", "int"),
    ("float", "float"),
    ("str", "str"),
    ("bool", "bool"),
    ("datetime", "datetime"),
    ("bytes", "bytes"),
    ("list", "list"),
    ("decimal", "decimal"),
}


def duck_family(t: str) -> str:
    t = t.upper()
    if t.endswith("[]") or t.startswith("LIST") or t.startswith("ARRAY"):
        return "list"
    if t.startswith("STRUCT") or t.startswith("MAP"):
        return "struct"
    if t.startswith("DECIMAL"):
        # pandas renders DECIMAL as float64, but fetchall yields Decimal
        # objects: a double-vs-DECIMAL oracle (DuckDB decimal literals
        # such as 0.0 propagating) is a finding, so DECIMAL is its own
        # family
        return "decimal"
    if t in ("HUGEINT", "UHUGEINT"):
        return "float"
    if t in (
        "TINYINT", "SMALLINT", "INTEGER", "BIGINT",
        "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT",
    ):
        return "int"
    if t in ("FLOAT", "DOUBLE", "REAL"):
        return "float"
    if t in ("VARCHAR", "TEXT", "STRING", "UUID"):
        return "str"
    if t == "BOOLEAN":
        return "bool"
    if t == "DATE" or t.startswith("TIMESTAMP") or t.startswith("TIME"):
        return "datetime"
    if t in ("BLOB", "BYTEA"):
        return "bytes"
    return f"other:{t}"


def spark_family(t) -> str:
    from pyspark.sql import types as T

    if isinstance(t, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "int"
    if isinstance(t, (T.FloatType, T.DoubleType)):
        return "float"
    if isinstance(t, T.DecimalType):
        return "decimal"
    if isinstance(t, T.StringType):
        return "str"
    if isinstance(t, T.BooleanType):
        return "bool"
    if isinstance(t, (T.DateType, T.TimestampType, T.TimestampNTZType)):
        return "datetime"
    if isinstance(t, T.BinaryType):
        return "bytes"
    if isinstance(t, T.ArrayType):
        return "list"
    if isinstance(t, (T.StructType, T.MapType)):
        return "struct"
    return f"other:{t.simpleString()}"


def connect(sf_dir: str):
    """A DuckDB connection with one view per ``TABLES`` parquet file in
    ``sf_dir``."""
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


class Verdict(NamedTuple):
    ok: bool
    rows: int  # Spark-side row count
    message: str


def _only_in(a: list, b: list, cols: list[str]) -> list[str]:
    """Up to 3 canonical rows of ``a`` that ``b`` lacks (as multisets)."""
    order = sorted(range(len(cols)), key=cols.__getitem__)

    def canon(rows):
        return Counter(repr(tuple(norm(r[i]) for i in order)) for r in rows)

    return list((canon(a) - canon(b)).elements())[:3]


def check_gate(spark, con, name: str, sf_dir: str) -> Verdict:
    """Run gate ``name`` on ``sf_dir`` and its oracle on ``con`` (views
    from :func:`connect` over the same dir) and compare.  Errors from
    either side propagate.

    ``JANUS_DISTRIBUTED_DIGEST=1`` digests the Spark side executor-side
    (:func:`~janus_spark.digest.spark_multiset_digest`) and streams the
    oracle side, for stress sweeps whose results do not fit in one process;
    a mismatch then names no rows."""
    from janus_spark.queries import QUERIES, oracles

    sdf = QUERIES[name](spark, sf_dir)
    rel = con.sql(oracles(sf_dir)[name])
    scols, ocols = sdf.columns, rel.columns
    if sorted(scols) != sorted(ocols):
        return Verdict(False, 0, f"SCHEMA MISMATCH spark={sorted(scols)} oracle={sorted(ocols)}")
    sfam = {f.name: spark_family(f.dataType) for f in sdf.schema.fields}
    bad = [
        f"{c}: spark={sfam[c]} duck={duck_family(str(t))}({t})"
        for c, t in zip(ocols, rel.types)
        if (sfam[c], duck_family(str(t))) not in ALLOWED
    ]
    if bad:
        return Verdict(False, 0, f"DTYPE MISMATCH {bad}")
    if os.environ.get("JANUS_DISTRIBUTED_DIGEST") == "1":
        srows = orows = None
        sn, sdig = spark_multiset_digest(sdf)
        on, odig = multiset_digest(_fetch_chunks(rel), ocols)
    else:
        srows = [tuple(r) for r in sdf.collect()]
        orows = rel.fetchall()
        sn, sdig = multiset_digest(srows, scols)
        on, odig = multiset_digest(orows, ocols)
    if (sn, sdig) == (on, odig):
        return Verdict(True, sn, f"EXACT ({sn} rows)")
    msg = f"ROWCOUNT MISMATCH spark={sn} oracle={on}" if sn != on else f"VALUE MISMATCH ({sn} rows)"
    if srows is not None:
        msg += (
            f"; spark only: {_only_in(srows, orows, scols)}"
            f"; oracle only: {_only_in(orows, srows, ocols)}"
        )
    return Verdict(False, sn, msg)


def _fetch_chunks(rel, size: int = 1_000_000):
    while chunk := rel.fetchmany(size):
        yield from chunk
