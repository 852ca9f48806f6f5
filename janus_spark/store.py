"""One commit protocol for the engine's persistent incremental state.

Every store is a directory of committed versions::

    <path>/v=<n>/               committed version n
    <path>/v=<n>/_batch-<id>    empty marker: the batch id its writer passed
    <path>/.staging-v=<n>/      a commit in flight, or the leftover of a crash

A commit writes ``.staging-v=<n>`` (data, then the marker) and makes it
visible with ONE atomic directory rename to ``v=<n>``, so a reader never
sees a torn version and a crash before the rename leaves only hidden
staging garbage: invisible to reads, to replay detection and to the
version count, and cleared by the next commit of the same number.
Spark's file listing skips names that start with a dot, and names that
start with an underscore unless they hold a ``=`` (those it takes for
partition directories), so neither the staging directories nor the
``_batch-<id>`` markers are ever read as data.  Store paths are local:
versions are listed and renamed with ``os``.  One writer per store is
assumed.

Two kinds of store share it:

- **snapshot stores** (``operators/incremental.py::IncrementalAgg``,
  ``datapipe/retrieval.py::IncrementalBM25Index``): each version holds
  the whole state, one subdirectory per leg, and readers open
  ``v=<newest>/<leg>`` (:class:`Snapshots`);
- **append stores** (``incremental_dedup``, ``incremental_minhash_dedup``
  and through it ``curation_increment``, ``incremental_entity_resolution``):
  each version holds one batch, and :func:`read_store` reads the root
  with partition discovery, ``v`` pruned to the listed versions and
  dropped.

Versions are listed in Python before any read, so an empty or missing
store is answered without a Spark reader.  A batch id is committed iff a
listed version carries its marker; a marked call's history is the set of
versions whose marker is smaller than its id, unmarked versions counting
as earliest.  A directory holding anything else (the flat parquet layout
of older releases, or stray files) raises ``ValueError`` naming the path
rather than being read as a fresh store.
"""

from __future__ import annotations

import os
import re
import shutil
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_VERSION = re.compile(r"v=(\d+)")
_MARKER = re.compile(r"_batch-(-?\d+)")


def versions(path: str) -> dict[int, int | None]:
    """Committed versions of the store at ``path`` -> the batch id each
    carries (None when its writer passed none); ``{}`` for a missing or
    empty store."""
    try:
        names = os.listdir(path)
    except FileNotFoundError:
        return {}
    out: dict[int, int | None] = {}
    for name in names:
        if m := _VERSION.fullmatch(name):
            marks = [
                int(k[1]) for f in os.listdir(os.path.join(path, name))
                if (k := _MARKER.fullmatch(f))
            ]
            out[int(m[1])] = marks[0] if marks else None
        elif not name.startswith("."):
            raise ValueError(
                f"{path!r} is not a versioned store: {name!r} lies outside any "
                "v=<n> version (a flat parquet store from an older release?)"
            )
    return out


def commit(path: str, write: Callable[[str], None], batch_id: int | None = None) -> int:
    """Commit the next version of the store at ``path``: ``write(stage)``
    writes its data under the staging directory, the batch marker (if
    any) goes in beside it, and one rename publishes both.  Returns the
    new version number."""
    n = max(versions(path), default=0) + 1
    stage = f"{path}/.staging-v={n}"
    shutil.rmtree(stage, ignore_errors=True)
    write(stage)
    os.makedirs(stage, exist_ok=True)
    if batch_id is not None:
        open(os.path.join(stage, f"_batch-{int(batch_id)}"), "w").close()
    os.rename(stage, f"{path}/v={n}")
    return n


def history(path: str, batch_id: int | None = None) -> tuple[list[int], bool]:
    """``(versions a call sees, whether batch_id is already committed)``:
    every version for an unmarked call; for a marked one the versions
    whose marker is smaller than ``batch_id`` (unmarked ones count as
    earliest), so a replayed batch sees exactly the store it first saw."""
    vs = versions(path)
    if batch_id is None:
        return sorted(vs), False
    seen = [v for v, b in vs.items() if b is None or b < batch_id]
    return sorted(seen), batch_id in vs.values()


def read_store(
    spark: SparkSession,
    path: str,
    schema: str | None = None,
    only: list[int] | None = None,
) -> DataFrame | None:
    """The rows of the append store at ``path`` (of versions ``only``,
    default all), or None while there are none.  A caller that knows the
    store's ``schema`` (DDL) passes it and skips schema inference, a
    Spark job per read; corrupt files then raise when the frame runs.
    Store columns may not be named ``v``."""
    if only is None:
        only = sorted(versions(path))
    if not only:
        return None
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path).where(F.col("v").isin(only)).drop("v")


class Snapshots:
    """Version bookkeeping of a snapshot store at ``self.path``."""

    path: str

    def current_version(self) -> int:
        return max(versions(self.path), default=0)

    def _vdir(self, v: int) -> str:
        return f"{self.path}/v={v}"

    def vacuum_versions(self, keep: int = 1) -> int:
        """Drop all but the newest ``keep`` versions, plus any staging
        leftovers of crashed commits; returns the number of versions
        removed."""
        cur = self.current_version()
        removed = 0
        for d in os.listdir(self.path) if os.path.isdir(self.path) else []:
            m = _VERSION.fullmatch(d)
            old = m is not None and int(m[1]) <= cur - keep
            if old or d.startswith(".staging-v="):
                shutil.rmtree(os.path.join(self.path, d), ignore_errors=True)
                removed += old
        return removed
