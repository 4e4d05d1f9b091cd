"""Message payloads and the opaque processor of the stream workloads.

Kept free of Spark imports: the load generator imports it to build
messages, and Python workers import it to run ``enrich``.
"""

from __future__ import annotations

import json
import random
import string

_PAD_CHARS = string.ascii_letters + string.digits


def message(seed: int, msg_id: int, size: int) -> dict:
    """The message with id ``msg_id``: a function of the seed and id
    only, so the checker can rebuild what was sent.  ``size`` is the
    target length of its JSON encoding in bytes."""
    rng = random.Random(f"{seed}:{msg_id}")
    m = {"id": msg_id, "v": rng.randrange(1_000_000),
         "tag": f"t{rng.randrange(16)}", "pad": ""}
    fill = max(0, size - len(json.dumps(m)))
    m["pad"] = "".join(rng.choices(_PAD_CHARS, k=fill))
    return m


def encode(m: dict) -> bytes:
    return json.dumps(m).encode("utf-8")


def enrich(m: dict) -> dict:
    """The processor: every input field kept, one derived field added."""
    out = dict(m)
    out["v2"] = 2 * m["v"] + 1
    return out
