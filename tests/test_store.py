"""The one commit protocol of ``janus_spark/store.py`` under faults: a
crash between staging and rename, garbage in a committed version, a
replayed batch id and a store in the older flat layout — for an append
store (the MinHash dedup store) and a snapshot store (IncrementalAgg) —
plus the job budget of a marked call and a guard that every store commit
goes through the module."""

import os
import re
from pathlib import Path

import pytest
from pyspark.sql import functions as F

import janus_spark.store as store_mod
from janus_spark.datapipe.dedup import incremental_minhash_dedup
from janus_spark.operators.incremental import IncrementalAgg
from janus_spark.store import history, read_store

TEXTS = [
    "alpha beta gamma delta epsilon zeta",
    "alpha beta gamma delta epsilon zeta",  # copy of 0
    "one two three four five six seven",
    "one two three four five six seven",  # copy of 2
    "red green blue cyan magenta yellow",
    "north south east west up down",
]


def _docs(spark, ids):
    return spark.createDataFrame(
        [(i, TEXTS[i]) for i in ids], "doc_id long, text string"
    )


def _dedup(spark, path, ids, batch_id=None):
    out = incremental_minhash_dedup(
        _docs(spark, ids), path, shingle_k=1, hash_fn="md5", batch_id=batch_id
    )
    return sorted(r["doc_id"] for r in out.collect())


def _rows(spark, path):
    df = read_store(spark, path)
    return 0 if df is None else df.count()


class _Crash(Exception):
    pass


def _crash_on_rename(monkeypatch):
    def rename(src, dst):
        raise _Crash(f"{src} -> {dst}")

    monkeypatch.setattr(store_mod.os, "rename", rename)


# ------------------------------------------------------------ append store


def test_append_crash_before_rename_is_invisible_and_retry_commits(
    spark, tmp_path, monkeypatch
):
    path = str(tmp_path / "mh")
    assert _dedup(spark, path, [0, 2], batch_id=0) == [0, 2]
    n0 = _rows(spark, path)
    with monkeypatch.context() as m:
        _crash_on_rename(m)
        with pytest.raises(_Crash):
            _dedup(spark, path, [1, 3, 4], batch_id=1)
    staged = Path(path) / ".staging-v=2"
    assert (staged / "_batch-1").exists()
    assert any(f.suffix == ".parquet" for f in staged.iterdir())
    # the staged rows are invisible to reads and to replay detection
    assert _rows(spark, path) == n0
    assert spark.read.parquet(path).count() == n0
    assert history(path, 1) == ([1], False)
    # a retry of the same batch id commits it, with the survivors of a
    # run that never crashed
    assert _dedup(spark, path, [1, 3, 4], batch_id=1) == [4]
    assert history(path, 2) == ([1, 2], False)
    assert not staged.exists()
    assert _rows(spark, path) > n0


def test_append_replayed_batch_id_is_idempotent(spark, tmp_path):
    path = str(tmp_path / "mh")
    _dedup(spark, path, [0, 2], batch_id=0)
    first = _dedup(spark, path, [1, 3, 4, 5], batch_id=1)
    n = _rows(spark, path)
    assert history(path, 1) == ([1], True)
    assert _dedup(spark, path, [1, 3, 4, 5], batch_id=1) == first == [4, 5]
    assert _rows(spark, path) == n
    assert sorted(os.listdir(path)) == ["v=1", "v=2"]
    # an unmarked version counts as earliest: a later marked batch sees it
    _dedup(spark, path, [2], batch_id=None)
    assert history(path, 0) == ([3], True)


def test_append_garbage_in_committed_version_raises(spark, tmp_path):
    path = str(tmp_path / "mh")
    _dedup(spark, path, [0, 2])
    (Path(path) / "v=1" / "part-99999.parquet").write_bytes(b"not parquet")
    with pytest.raises(Exception, match="(?i)parquet|footer"):
        _dedup(spark, path, [4])


def test_flat_layout_store_raises_naming_path(spark, tmp_path):
    from janus_spark.datapipe.dedup import incremental_dedup
    from janus_spark.datapipe.entity import incremental_entity_resolution

    flat = str(tmp_path / "flat")
    spark.range(3).write.parquet(flat)
    docs = _docs(spark, [0])
    for call in (
        lambda: incremental_minhash_dedup(docs, flat, hash_fn="md5", batch_id=3),
        lambda: incremental_dedup(docs, flat),
        lambda: incremental_entity_resolution(
            docs.select("doc_id", F.split("text", " ").alias("toks"),
                        F.lit("k").alias("blk")),
            flat, "doc_id", "toks", [["blk"]], 0.5,
        ),
        lambda: IncrementalAgg(spark, flat, ["id"]).read(),
    ):
        with pytest.raises(ValueError, match=re.escape(flat)):
            call()


def test_marked_call_launches_no_more_jobs_than_unmarked(spark, tmp_path):
    path = str(tmp_path / "mh")
    _dedup(spark, path, [0, 2], batch_id=0)
    dag = spark.sparkContext._jsc.sc().dagScheduler()

    def jobs(ids, batch_id):
        docs = _docs(spark, ids).localCheckpoint(eager=True)
        before = dag.numTotalJobs()
        incremental_minhash_dedup(
            docs, path, shingle_k=1, hash_fn="md5", batch_id=batch_id
        )
        return dag.numTotalJobs() - before

    unmarked = jobs([1, 3], None)
    assert jobs([4, 5], 7) <= unmarked
    assert jobs([4, 5], 7) <= unmarked  # the replay too


# ---------------------------------------------------------- snapshot store


@pytest.fixture()
def events(spark):
    return spark.createDataFrame(
        [(i, f"t{i % 3}", float(i % 7), i % 5) for i in range(60)],
        "event_id long, event_type string, value double, user_id long",
    )


def _total(inc):
    return sum(r["n"] for r in inc.read().collect())


def test_snapshot_crash_before_rename_is_invisible_and_retry_commits(
    spark, tmp_path, monkeypatch, events
):
    path = str(tmp_path / "r")
    inc = IncrementalAgg(spark, path, ["event_type"], distinct_col="user_id")
    inc.update(events.where("event_id < 20"))
    with monkeypatch.context() as m:
        _crash_on_rename(m)
        with pytest.raises(_Crash):
            inc.update(events.where("event_id >= 20"))
    assert os.path.isdir(f"{path}/.staging-v=2/hll")
    assert inc.current_version() == 1 and _total(inc) == 20
    assert inc.update(events.where("event_id >= 20")) == 2
    assert _total(inc) == 60


def test_snapshot_garbage_in_committed_version_raises(spark, tmp_path, events):
    path = str(tmp_path / "r")
    inc = IncrementalAgg(spark, path, ["event_type"])
    inc.update(events)
    (Path(path) / "v=1" / "aggs" / "part-99999.parquet").write_bytes(b"not parquet")
    with pytest.raises(Exception, match="(?i)parquet|footer"):
        inc.read().collect()


# ------------------------------------------------------------------ guard


def test_store_commits_go_through_the_store_module():
    """Renames, staging directories and parquet appends belong to
    ``janus_spark/store.py``.  The MQTT spool's ``os.rename`` publishes a
    single text file into a file-source directory; it is not incremental
    state."""
    root = Path(store_mod.__file__).parent
    allowed = {("sources/mqtt.py", "os.rename(")}
    for f in sorted(root.rglob("*.py")):
        rel = f.relative_to(root).as_posix()
        if rel == "store.py":
            continue
        src = f.read_text()
        for token in ("os.rename(", ".staging-", '.mode("append")'):
            if (rel, token) not in allowed:
                assert token not in src, f"{token} in janus_spark/{rel}"
