"""Core data model: the timestamped quad.

Reference: ``src/core/mod.rs:6-23`` defines ``Event``/``RDFEvent`` — a
fixed (timestamp, subject, predicate, object, graph) record with ms
timestamps.  Here that is one fixed DataFrame schema; dictionary encoding
(``src/core/encoding.rs``) is subsumed by Parquet dictionary encoding and
deliberately NOT reimplemented.

Term typing (reference ``src/execution/historical_executor.rs:313-342``):
storage keeps all terms as strings; at query time an object that starts
with ``http(s)://`` is an IRI, else a value parsable as float is numeric,
else a plain string.  The same tests are cheap Column expressions here.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql.types import LongType, StringType, StructField, StructType

# The single fixed schema of the engine's core table.
QUAD_SCHEMA = StructType(
    [
        StructField("ts", LongType(), False),
        StructField("subject", StringType(), False),
        StructField("predicate", StringType(), False),
        StructField("object", StringType(), False),
        StructField("graph", StringType(), True),
    ]
)

QUAD_COLUMNS = [f.name for f in QUAD_SCHEMA.fields]

DEFAULT_GRAPH = ""

# Namespaces from the reference (src/extensions/registry.rs:12-23,
# src/api/janus_api.rs:23).
JANUS_FN_NS = "https://janus.rs/fn#"
BASELINE_NS = "https://janus.rs/baseline#"


def is_iri(col: Column) -> Column:
    """True when the term is an IRI by the reference's prefix test."""
    return col.startswith("http://") | col.startswith("https://") | col.startswith("urn:")
