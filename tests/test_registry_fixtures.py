"""A guard that every registry gate's temp-dir / file-stream /
memory-sink plumbing goes through the three helpers in
``janus_spark/queries.py``."""

import inspect

from janus_spark import queries


def test_gate_fixture_plumbing_goes_through_helpers():
    src = inspect.getsource(queries)
    for helper in (queries._scratch_dir, queries._fixture_stream, queries._drain_to_memory):
        body = inspect.getsource(helper)
        assert body in src
        src = src.replace(body, "")
    for token in ("tempfile.mkdtemp", "maxFilesPerTrigger", ".queryName(", "_read_wide"):
        assert token not in src, f"{token} outside the fixture helpers"
