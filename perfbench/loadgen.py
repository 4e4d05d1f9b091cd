"""Load generator for the stream workloads, run in its own process so
its schedule never slows when the pipeline does.

    python3 -m perfbench.loadgen '<json config>'

Phase 1 publishes the backlog as fast as it can and prints ``ready``.
Phase 2 waits for a ``go <epoch seconds>`` line on stdin, then
publishes ``rate * duration_s`` messages open-loop: message k is due at
``t0 + (k + jitter_k) / rate`` with a seeded jitter in [-0.25, 0.25).
A late message is sent at once and the next keeps its own due time.
It writes one record per message to ``out`` and prints ``done``.
"""

from __future__ import annotations

import json
import random
import sys
import time

from py_pubsub_pipeline_spark.sources.pubsub import publish

from .payload import encode, message


def main(cfg: dict) -> None:
    topic, seed, size = cfg["topic"], cfg["seed"], cfg["payload_bytes"]
    records = []

    def send(msg_id: int, due: float | None) -> None:
        payload = encode(message(seed, msg_id, size))
        start = time.time()
        t0 = time.perf_counter()
        offset = publish(topic, payload)
        records.append([msg_id, offset, due, start,
                        time.perf_counter() - t0])

    for msg_id in range(cfg["backlog"]):
        send(msg_id, None)
    print("ready", flush=True)

    line = sys.stdin.readline().split()
    if not line or line[0] != "go":
        raise SystemExit(f"loadgen: expected 'go <t0>', got {line!r}")
    t0 = float(line[1])
    rate = cfg["rate"]
    rng = random.Random(f"{seed}:schedule")
    for k in range(int(rate * cfg["duration_s"])):
        due = t0 + (k + rng.uniform(-0.25, 0.25)) / rate
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        send(cfg["backlog"] + k, due)

    with open(cfg["out"], "w") as fh:
        json.dump({"fields": ["id", "offset", "due", "start", "seconds"],
                   "records": records}, fh)
    print("done", flush=True)


if __name__ == "__main__":
    main(json.loads(sys.argv[1]))
