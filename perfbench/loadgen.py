"""Open-loop load over loopback HTTP: each request is sent at its due time
whether or not earlier ones have returned, and its latency is counted from
that due time, so a server stall shows up in every request queued behind
it."""

from __future__ import annotations

import http.client
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass


@dataclass
class Outcome:
    status: int
    body: bytes
    latency_ms: float    # completion minus due time
    late_ms: float       # send time minus due time


def post(host: str, port: int, path: str, body: bytes) -> tuple[int, bytes]:
    conn = http.client.HTTPConnection(host, port, timeout=120)
    try:
        conn.request("POST", path, body=body,
                     headers={"Content-Type": "application/json"})
        resp = conn.getresponse()
        return resp.status, resp.read()
    finally:
        conn.close()


def run_open_loop(requests, send, clients: int) -> list[Outcome]:
    """Send ``requests`` (each with a ``due`` offset in seconds) through
    ``send(request) -> (status, body)`` from ``clients`` threads. Returns
    one Outcome per request, in request order."""
    out: list = [None] * len(requests)
    t0 = time.perf_counter() + 0.05

    def one(i: int) -> None:
        due = t0 + requests[i].due
        sent = time.perf_counter()
        try:
            status, body = send(requests[i])
        except OSError as err:
            status, body = 599, str(err).encode()
        done = time.perf_counter()
        out[i] = Outcome(status, body, (done - due) * 1000.0, (sent - due) * 1000.0)

    with ThreadPoolExecutor(max_workers=clients) as pool:
        futures = []
        for i, r in enumerate(requests):
            wait = t0 + r.due - time.perf_counter()
            if wait > 0:
                time.sleep(wait)
            futures.append(pool.submit(one, i))
        for f in futures:
            f.result()
    return out

