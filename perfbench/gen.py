"""Open-loop MQTT load generator for the ``live_mqtt_hybrid`` workload.

Runs as its own process: hosts ``MiniMqttBroker``, prints ``PORT <n>``,
waits for ``GO`` on stdin, then publishes timestamped N-Quads on a fixed
wall-clock schedule (``sensors.RATE`` events/s over ``sensors.N_SENSORS``
sensors) that does not slow when the engine does.  Each event's
timestamp is its creation time.  ``STOP`` on stdin (or
``sensors.GEN_MAX_SECONDS``) ends the run; the generator then writes
every event it sent to ``--out`` and prints
``DONE <events> <max lateness ms>``.

    python3 perfbench/gen.py --seed 1 --out events.tsv
"""

from __future__ import annotations

import argparse
import sys
import threading
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
sys.path.insert(0, str(Path(__file__).resolve().parent))

from sensors import GEN_MAX_SECONDS, N_SENSORS, RATE, TOPIC, Readings, nquad  # noqa: E402

from janus_spark.sources.mqtt import MiniMqttBroker, MqttClient  # noqa: E402

TICK_S = 0.02


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    broker = MiniMqttBroker().start()
    print(f"PORT {broker.port}", flush=True)
    if sys.stdin.readline().strip() != "GO":
        broker.stop()
        return 1
    stop = threading.Event()

    def watch_stdin() -> None:
        sys.stdin.readline()  # STOP, or EOF when the parent goes away
        stop.set()

    threading.Thread(target=watch_stdin, daemon=True).start()

    readings = Readings(args.seed, N_SENSORS)
    pub = MqttClient("127.0.0.1", broker.port)
    pub.connect()
    events: list[tuple[int, int, str]] = []
    lag_max = 0.0
    t0 = time.time()
    i = 0
    while not stop.is_set() and time.time() - t0 < GEN_MAX_SECONDS:
        now = time.time()
        lines = []
        while t0 + i / RATE <= now:
            lag_max = max(lag_max, now - (t0 + i / RATE))
            k, v = readings.value(i)
            ts = int(now * 1000)
            events.append((ts, k, v))
            lines.append(nquad(ts, k, v))
            i += 1
        if lines:
            pub.publish(TOPIC, "\n".join(lines).encode(), qos=0)
        time.sleep(max(0.001, now + TICK_S - time.time()))
    pub.disconnect()
    with open(args.out, "w", encoding="utf-8") as f:
        for ts, k, v in events:
            f.write(f"{ts}\t{k}\t{v}\n")
    print(f"DONE {len(events)} {lag_max * 1000:.3f}", flush=True)
    broker.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
