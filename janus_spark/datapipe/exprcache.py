"""Cached SQL-text Column construction for the datapipe's heavy
expression trees.

Why this exists: every ``F.<fn>()`` call is a Py4J round-trip, and the
datapipe's higher-order trees (shingles, in-array run-length scans,
MinHash signatures, Gopher statistics) are hundreds of nodes deep —
constructing one costs 0.2–2 s of pure DRIVER time, and a caller (or the
bench, which rebuilds each query per rep) pays it on every invocation.
Building the same tree as ONE SQL string handed to ``F.expr`` is a
single round-trip plus a fast JVM parse, and caching the parsed Column
makes repeat constructions free.

Safety (the ``queries._FRAME_CACHE`` precedent): a Column is an
immutable, LAZY, unresolved expression tree.  Caching it caches no data
and no results — every plan that embeds it is analyzed fresh and every
action recomputes from the inputs.  The SQL string is the cache key, so
two semantically different expressions can never collide.

Equivalence discipline: each ``*_sql`` builder in the datapipe modules
mirrors its former Column-API form token for token (same functions, same
literal types, same casts), and the gates that consume them are pinned
EXACT against their DuckDB oracles — the conversion is a construction-
cost change, not a semantic one.
"""

from __future__ import annotations

import hashlib
import threading
from collections import OrderedDict

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = ["cached_expr", "qident", "sql_str"]

# LRU keyed by the sha256 DIGEST of the SQL text, not the text itself:
# codebook/centroid literals embed multi-KB array strings, and an
# lru_cache would retain every key string alongside its Column for the
# life of the driver (VERDICT r10 hygiene item).  32-byte keys bound the
# Python-side footprint; a digest collision would require breaking
# sha256.  The JVM-side parsed trees are the cache's purpose and are
# bounded by the entry cap.
_CACHE: OrderedDict[bytes, Column] = OrderedDict()
_CACHE_MAX = 1024
# one lock over lookup, insert and eviction: without it a thread could
# find a key that another thread evicts before its move_to_end (KeyError)
_LOCK = threading.Lock()


def cached_expr(sql: str) -> Column:
    """Parse ``sql`` into a Column once per process and reuse it.
    Thread-safe; a miss parses outside the lock, so two threads may both
    parse the same text and the later insert wins (equal Columns)."""
    key = hashlib.sha256(sql.encode("utf-8")).digest()
    with _LOCK:
        col = _CACHE.get(key)
        if col is not None:
            _CACHE.move_to_end(key)
            return col
    col = F.expr(sql)
    with _LOCK:
        _CACHE[key] = col
        if len(_CACHE) > _CACHE_MAX:
            _CACHE.popitem(last=False)
    return col


def qident(name: str) -> str:
    """Backtick-quote an identifier for safe embedding in SQL text."""
    return "`" + name.replace("`", "``") + "`"


def sql_str(s: str) -> str:
    """Single-quoted SQL string literal with backslash/quote escaping
    (default Spark parser semantics: backslash is an escape character)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def float_array_sql(arr) -> str:
    """SQL text of a 1-D double-array literal.  ``repr`` is Python's
    shortest round-trip decimal and Spark's parser is correctly rounded,
    so every element is BIT-IDENTICAL to ``F.lit(float(x))`` (pinned by
    test; finite values only)."""
    return "array(" + ", ".join(repr(float(x)) + "D" for x in arr) + ")"


def nested_float_array_sql(arr) -> str:
    """SQL text of a 2-D double-array literal (array of float_array_sql
    rows) — replaces the F.array(*[F.array(*[F.lit(x)…])…]) codebook /
    centroid trees that cost one Py4J round-trip PER ELEMENT."""
    return "array(" + ", ".join(float_array_sql(c) for c in arr) + ")"
