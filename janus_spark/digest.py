"""Order-free multiset digests over query results.

The repo's correctness discipline is order-free exactness: every gate's
result is a multiset of rows whose values must not depend on partition
assignment or within-partition row order.  These helpers turn a result
into ``(row_count, Σ md5(canonical row) mod p)`` — equal multisets give
equal digests; a collision would need an md5 preimage.  They live in the
package (not ``scripts/``) because :func:`spark_multiset_digest` ships a
closure to executors, and only package modules are importable from the
Python workers.

Used by :func:`janus_spark.oracle.check_gate` (every gate-vs-oracle
compare; the distributed form for stress sweeps) and
``scripts/selfcheck_differential.py`` (engine-vs-engine A/B digests for
gates whose DuckDB oracles cannot run at sf10).
"""

from __future__ import annotations

import math

DIGEST_MOD = (1 << 128) - 159  # largest 128-bit prime


def norm(v):
    """Canonicalize one value for hashing: NaN → the string 'NaN' (NaN
    != NaN would break multiset equality), bools stay bool (don't decay
    to int), everything else verbatim."""
    if v is None:
        return None
    if isinstance(v, bool):
        return bool(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    return v


def multiset_digest(rows_iter, cols) -> tuple[int, int]:
    """(row_count, Σ md5(canonical row) mod p) over an iterable of rows —
    columns are hashed in name-sorted order so column order never
    matters, matching the driver's sort-columns-then-hash compare."""
    import hashlib

    order = sorted(range(len(cols)), key=lambda i: cols[i])
    acc, n = 0, 0
    for r in rows_iter:
        t = tuple(norm(r[i]) for i in order)
        h = hashlib.md5(repr(t).encode()).digest()
        acc = (acc + int.from_bytes(h, "big")) % DIGEST_MOD
        n += 1
    return n, acc


def spark_multiset_digest(sdf) -> tuple[int, int]:
    """Distributed form of :func:`multiset_digest`: each partition
    computes (count, Σ md5 mod p) over Arrow batches executor-side and
    only the per-partition partials cross to the driver.
    Canonicalization is identical to the local path (Python objects via
    Arrow ``to_pylist``, same ``norm``/repr), so digests are comparable
    with a DuckDB-side :func:`multiset_digest`."""
    import pyarrow as pa

    cols = sdf.columns
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    mod = DIGEST_MOD
    normf = norm

    def partials(batches):
        import hashlib

        acc, n = 0, 0
        for rb in batches:
            col_vals = [rb.column(i).to_pylist() for i in range(rb.num_columns)]
            for vals in zip(*col_vals):
                t = tuple(normf(vals[i]) for i in order)
                h = hashlib.md5(repr(t).encode()).digest()
                acc = (acc + int.from_bytes(h, "big")) % mod
                n += 1
        yield pa.RecordBatch.from_pydict({"n": [n], "acc": [str(acc)]})

    total_n, total_acc = 0, 0
    for row in sdf.mapInArrow(partials, "n long, acc string").collect():
        total_n += row["n"]
        total_acc = (total_acc + int(row["acc"])) % mod
    return total_n, total_acc
