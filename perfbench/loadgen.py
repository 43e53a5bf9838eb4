"""Closed-loop load generator.

One client sends the reads in order, each after the previous one has
completed, and times each from send to answer. With nothing else in
flight, a read's latency is its own service time through the shim and
the Engine. An open loop on a shared 4-vCPU machine turned each
slowdown of the machine into queueing, and its median swung by up to
2x between runs.
"""

from __future__ import annotations

import json
import time
import urllib.error
import urllib.request
from dataclasses import dataclass


@dataclass
class Outcome:
    request: object       # what the read item describes
    sent: float = 0.0     # perf_counter time the client sent it
    done: float = 0.0
    error: str = "not run"  # "" once the read passed its check

    @property
    def ok(self) -> bool:
        return not self.error

    @property
    def latency_ms(self) -> float:
        return (self.done - self.sent) * 1000.0


def get_json(url: str, timeout: float = 120.0) -> tuple[int, dict]:
    try:
        with urllib.request.urlopen(url, timeout=timeout) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read() or b"{}")


def run_closed(items: list[tuple[object, object]]) -> list[Outcome]:
    """Runs (request, call) items one after another; ``call()``
    performs the read and returns "" when it passed its check, else
    what failed."""
    outcomes = []
    for req, call in items:
        out = Outcome(req)
        out.sent = time.perf_counter()
        try:
            out.error = call()
        except (OSError, ValueError, KeyError, TypeError) as e:
            # a refused connection, a malformed body or a missing field
            # is a failed read, not a benchmark crash
            out.error = f"{type(e).__name__}: {e}"
        out.done = time.perf_counter()
        outcomes.append(out)
    return outcomes
