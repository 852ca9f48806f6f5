"""Seeded sensor readings shared by the live and replay workloads and
their plain-Python references.

Each sensor has a fixed mean; a reading is the mean plus noise in
[-1, 1], except that about 3% of readings are anomalies 6-9 degrees
off.  The anomaly FILTER threshold (4) sits well clear of both bands,
so floating-point detail in the engine's baseline mean cannot flip a
decision.
"""

from __future__ import annotations

import random

SENSOR = "http://example.org/sensor/"
TEMP = "http://example.org/temperature"
ANOMALY_THRESHOLD = 4
ANOMALY_EVERY = 33

# the live feed (gen.py): offered events/s, sensors, MQTT topic, and the
# longest a generator runs if its parent never says STOP.  The rate is
# half the highest tried rate the engine sustains (1600 of 100-3200 on
# 4 cores; see README), so the runner is about half busy.
RATE = 800
N_SENSORS = 50
TOPIC = "sensors"
GEN_MAX_SECONDS = 170.0


def sensor_mean(seed: int, k: int) -> float:
    return 15.0 + ((k * 7919 + seed * 104729) % 100) / 10.0


class Readings:
    """Deterministic reading values for one seed (timestamps are the
    caller's: wall clock for the live feed, synthetic for replay)."""

    def __init__(self, seed: int, n_sensors: int) -> None:
        self.rng = random.Random(seed)
        self.means = [sensor_mean(seed, k) for k in range(n_sensors)]
        self.n = n_sensors
        self.phase = seed % ANOMALY_EVERY

    def value(self, i: int) -> tuple[int, str]:
        """Reading ``i`` → (sensor index, lexical value).  Every
        ``ANOMALY_EVERY``-th reading is an anomaly, so every window holds
        about the same number of them."""
        k = i % self.n
        if i % ANOMALY_EVERY == self.phase:
            v = self.means[k] + self.rng.choice((-1, 1)) * self.rng.uniform(6, 9)
        else:
            v = self.means[k] + self.rng.uniform(-1, 1)
        return k, f"{v:.1f}"


def nquad(ts: int, k: int, value: str) -> str:
    return f'{ts} <{SENSOR}{k}> <{TEMP}> "{value}" .'


def window_contents(events: list[tuple[int, int, str]], s: int, e: int) -> list[tuple[int, int, str]]:
    """Set-semantics window slice [s, e) of (ts, sensor, value) events."""
    return sorted({ev for ev in events if s <= ev[0] < e})


def expected_anomalies(events, s: int, e: int, means: dict[int, float]) -> list[tuple[str, str]]:
    """Rows (sensor IRI, temp) of the hybrid anomaly query for window [s, e)."""
    out = []
    for _ts, k, v in window_contents(events, s, e):
        if k in means and abs(float(v) - means[k]) > ANOMALY_THRESHOLD:
            out.append((f"{SENSOR}{k}", v))
    return sorted(out)


def expected_avgs(events, s: int, e: int) -> dict[str, float]:
    """Per-sensor AVG over window [s, e) (bag semantics, like Spark's
    streaming aggregation)."""
    acc: dict[int, list[float]] = {}
    for ts, k, v in events:
        if s <= ts < e:
            acc.setdefault(k, []).append(float(v))
    return {f"{SENSOR}{k}": sum(vs) / len(vs) for k, vs in acc.items()}
