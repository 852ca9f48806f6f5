"""In-memory span recorder for the traced run.

Spans are taken from outside the engine: ``Tracer.wrap`` replaces a
public function or method, at the place its caller looks it up, with a
timing wrapper.  Private methods are never wrapped, so refactors inside a
layer cannot break the trace.  Spans stay in memory and are written once,
at exit.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from collections import defaultdict
from pathlib import Path


class Tracer:
    def __init__(self) -> None:
        self.spans: list[tuple] = []  # (id, parent, name, key, start, end, thread)
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self.enabled = True  # off for the untraced half of a traced run

    def install_engine_wraps(self) -> None:
        """Spans around the engine's public entry points, wrapped where
        their callers look them up."""
        import janus_spark.compiler.compile as compile_mod
        import janus_spark.datapipe.curation as curation_mod
        import janus_spark.engine as engine_mod
        import janus_spark.operators.historical as historical_mod
        import janus_spark.streaming.live as live_mod
        from janus_spark.sources.quadstore import QuadStore

        J = engine_mod.JanusEngine
        self.wrap(J, "register_query", "engine.register_query")
        self.wrap(J, "start_historical", "engine.start_historical",
                  key_fn=lambda _self, qid, *a, **k: qid)
        self.wrap(J, "warm_baseline", "engine.warm_baseline",
                  key_fn=lambda _self, qid, *a, **k: qid)
        self.wrap(engine_mod, "run_historical_fixed", "operators.historical.run_fixed")
        self.wrap(engine_mod, "run_historical_sliding", "operators.historical.run_sliding")
        self.wrap(engine_mod, "build_baseline", "operators.baseline.build_baseline")
        for mod in (compile_mod, historical_mod, live_mod):
            self.wrap(mod, "compile_sparql", "compiler.compile_sparql")
        self.wrap(QuadStore, "write", "sources.quadstore.write")
        self.wrap(curation_mod, "curation_increment", "datapipe.curation_increment")

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def span(self, name: str, key: str | None = None):
        return _Span(self, name, key)

    def spans_named(self, name: str, t0: float = float("-inf"), t1: float = float("inf")):
        """(start, end, key) of the spans called ``name`` started in [t0, t1]."""
        return [(s, e, k) for _i, _p, n, k, s, e, _t in self.spans if n == name and t0 <= s <= t1]

    def traced(self, name: str, fn, key_fn=None):
        """``fn`` wrapped to record span ``name`` while tracing is on.
        ``key_fn(*args, **kwargs)`` names the request/query the span
        belongs to."""
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            key = key_fn(*args, **kwargs) if key_fn else None
            with _Span(tracer, name, key):
                return fn(*args, **kwargs)

        return traced

    def wrap(self, owner, attr: str, name: str, key_fn=None) -> None:
        """Replace ``owner.attr`` with its traced version."""
        setattr(owner, attr, self.traced(name, getattr(owner, attr), key_fn))

    def self_times(self) -> dict[str, float]:
        """Self seconds per layer: a span's duration minus the time its
        direct children (same thread, nested) cover."""
        child_time: dict[int, float] = defaultdict(float)
        for _sid, parent, _n, _k, s, e, _t in self.spans:
            if parent:
                child_time[parent] += e - s
        out: dict[str, float] = defaultdict(float)
        for sid, _p, name, _k, s, e, _t in self.spans:
            out[layer_of(name)] += max(0.0, (e - s) - child_time[sid])
        return dict(out)

    def count(self, name: str) -> int:
        return sum(1 for sp in self.spans if sp[2] == name)

    def engine_layer_metrics(self) -> dict:
        """Per-layer numbers every workload reads the same way off the
        engine-entry spans."""
        from harness import median

        def ms(name):
            return [(e - s) * 1000 for s, e, _k in self.spans_named(name)]

        def med(name):
            xs = ms(name)
            return median(xs) if xs else 0.0

        compile_ms = ms("compiler.compile_sparql")
        return {
            "compiler.compile_calls": (len(compile_ms), "count"),
            "compiler.compile_ms": (sum(compile_ms), "ms"),
            "engine.register_ms": (med("engine.register_query"), "ms"),
            "engine.start_historical_ms": (med("engine.start_historical"), "ms"),
            "operators.baseline.warm_ms": (med("engine.warm_baseline"), "ms"),
        }

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w", encoding="utf-8") as f:
            for sid, parent, name, key, s, e, tid in self.spans:
                f.write(json.dumps({"id": sid, "parent": parent, "name": name, "key": key,
                                    "start": s, "end": e, "thread": tid}) + "\n")


def layer_of(name: str) -> str:
    """``streaming.live.on_batch`` -> ``streaming.live``."""
    return name.rsplit(".", 1)[0]


class _Span:
    __slots__ = ("tracer", "name", "key", "sid", "parent", "start")

    def __init__(self, tracer: Tracer, name: str, key: str | None) -> None:
        self.tracer, self.name, self.key = tracer, name, key

    def __enter__(self):
        stack = self.tracer._stack()
        self.sid = next(self.tracer._ids)
        self.parent = stack[-1] if stack else None
        stack.append(self.sid)
        self.start = time.perf_counter()
        return self

    def __exit__(self, *exc):
        end = time.perf_counter()
        tr = self.tracer
        tr._stack().pop()
        with tr._lock:
            tr.spans.append((self.sid, self.parent, self.name, self.key, self.start, end,
                             threading.get_ident()))
        return False
