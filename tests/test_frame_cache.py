"""queries._cached under concurrent callers (Flask threads, two
foreachBatch streams): every key is built exactly once."""

import sys
import threading
import time
from collections import Counter

from janus_spark import queries


def test_frame_cache_builds_each_key_once():
    n_threads = 8  # more threads than cores
    keys = [("frame_cache_hammer", i) for i in range(40)]
    builds: Counter = Counter()
    start = threading.Barrier(n_threads)
    got: list[list] = [[] for _ in range(n_threads)]

    def build(key):
        builds[key] += 1
        time.sleep(0.001)  # widen the check-then-insert window
        return object()

    def hammer(slot: int) -> None:
        start.wait(timeout=30)
        for key in keys:
            got[slot].append(queries._cached(key, lambda key=key: build(key)))

    threads = [threading.Thread(target=hammer, args=(i,)) for i in range(n_threads)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
        assert not any(t.is_alive() for t in threads)
        assert builds == Counter(keys)
        # every thread received the one cached object per key
        assert all(v is col[0] for col in zip(*got) for v in col)
    finally:
        sys.setswitchinterval(interval)
        for key in keys:
            queries._FRAME_CACHE.pop(key, None)


def test_frame_cache_build_may_use_the_cache():
    """A build that looks up another cached frame does not deadlock."""
    outer, inner = ("frame_cache_outer",), ("frame_cache_inner",)
    try:
        value = queries._cached(outer, lambda: ("outer", queries._cached(inner, lambda: "inner")))
        assert value == ("outer", "inner")
    finally:
        queries._FRAME_CACHE.pop(outer, None)
        queries._FRAME_CACHE.pop(inner, None)
