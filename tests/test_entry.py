"""Guards on the driver contract in ``__spark_entry__.py``.

The external correctness check samples the FIRST 50 gates of
``queries()``.  That order is computed from its own records
(``CORRECTNESS_r<N>.json``): the gates whose newest check is oldest come
first, so every window takes the most overdue gates and a gate added
mid-round can displace nothing that is more overdue.
"""

from __future__ import annotations

import json
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entry_mod  # noqa: E402


def test_priority_gates_no_duplicates():
    order = list(entry_mod.queries())
    assert len(order) == len(set(order))


def test_priority_gates_all_in_registry():
    """The priority order is exactly the registry: no stray name, no gate
    left out."""
    from janus_spark.queries import QUERIES

    order = list(entry_mod.queries())
    missing = [g for g in order if g not in QUERIES]
    assert not missing, f"queries() yields gates not in registry: {missing}"
    assert set(order) == set(QUERIES)


def test_never_checked_gates_come_first():
    last = entry_mod.last_checked()
    checked = [g in last for g in entry_mod.queries()]
    assert checked == sorted(checked)


def test_newest_round_never_decreases():
    last = entry_mod.last_checked()
    rounds = [last.get(g, 0) for g in entry_mod.queries()]
    assert rounds == sorted(rounds)


def test_history_pattern_sees_two_digit_rounds(tmp_path, monkeypatch):
    """``CORRECTNESS_r10.json`` and ``_r11.json`` count as rounds 10 and
    11 (a one-digit pattern went blind at round 10)."""
    with open(os.path.join(ROOT, "CORRECTNESS_r11.json")) as f:
        r11 = json.load(f)
    assert all(entry_mod.last_checked()[g] == 11 for g in r11)
    for n, gates in ((9, ["a", "b"]), (10, ["b"]), (11, ["c"])):
        (tmp_path / f"CORRECTNESS_r{n:02d}.json").write_text(json.dumps(dict.fromkeys(gates, {})))
    monkeypatch.setattr(entry_mod, "ROOT", str(tmp_path))
    assert entry_mod.last_checked() == {"a": 9, "b": 10, "c": 11}


def test_no_history_means_registry_order(tmp_path, monkeypatch):
    from janus_spark.queries import QUERIES

    monkeypatch.setattr(entry_mod, "ROOT", str(tmp_path))
    assert entry_mod.last_checked() == {}
    assert list(entry_mod.queries()) == list(QUERIES)


def test_docs_registry_count_in_sync():
    """README/COVERAGE gate counts must agree with len(QUERIES) —
    VERDICT r6 'Next round' #8 (hand-updated numbers drift)."""
    from janus_spark.queries import QUERIES

    n = len(QUERIES)
    for doc in ("README.md", "COVERAGE.md"):
        text = open(os.path.join(ROOT, doc)).read()
        counts = {int(m) for m in re.findall(r"(\d+)\s+driver-gated", text)}
        assert counts == {n}, (
            f"{doc} says {sorted(counts)} driver-gated queries, "
            f"registry has {n}"
        )
