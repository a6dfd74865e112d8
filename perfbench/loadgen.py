"""Open-loop HTTP load generator.

Users are independent, so requests are sent on a fixed schedule,
evenly spaced at the offered rate, whatever the server's state (the
constant-rate open loop of wrk2; even spacing keeps the tail
percentiles of short phases steady across runs).  One process, at most ``nproc``
sender threads, one connection per request (each request may land on
any pre-forked worker).  Latency is timed from the request's due time,
so a stall also charges the requests queued behind it; how late the
generator sent each request is recorded separately.  Timeouts,
refusals and non-200 answers are failures and count as misses of any
latency limit.
"""

from __future__ import annotations

import http.client
import os
import threading
import time
from dataclasses import dataclass
from urllib.parse import urlencode

import numpy as np

from perfbench.corpus import Request

TIMEOUT_S = 2.0
# every fifth response body is kept, to be checked against the local
# scorer
KEEP_BODY_EVERY = 5
# a request that could not even be sent this long after the phase's
# last due time is dropped as a failure (bounds an overloaded phase)
DRAIN_S = 1.0


@dataclass
class Sample:
    rid: int
    due: float
    sent: float
    done: float
    status: int  # HTTP status; 0 = timeout, refusal or not sent
    body: bytes | None

    @property
    def ok(self) -> bool:
        return self.status == 200

    @property
    def latency_ms(self) -> float:
        """From due time; failures count as the client timeout."""
        if not self.ok:
            return TIMEOUT_S * 1000.0
        return (self.done - self.due) * 1000.0

    @property
    def late_ms(self) -> float:
        return (self.sent - self.due) * 1000.0


def cpu_steal_s() -> float:
    """CPU time the hypervisor has given to other guests (all cpus),
    from ``/proc/stat``: on a shared host, the noise under timings."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def sender_threads() -> int:
    return max(1, len(os.sched_getaffinity(0)))


def search_path(req: Request, rid: int) -> str:
    q = {"query": req.query, "limit": req.limit, "rid": rid}
    if req.offset:
        q["offset"] = req.offset
    if req.site:
        q["site"] = req.site
    return "/api/search?" + urlencode(q)


def get(port: int, path: str) -> tuple[int, bytes | None]:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=TIMEOUT_S)
    try:
        conn.request("GET", path, headers={"Connection": "close"})
        resp = conn.getresponse()
        return resp.status, resp.read()
    except (OSError, http.client.HTTPException):
        return 0, None
    finally:
        conn.close()


def run_phase(port: int, reqs: list[Request], first_rid: int, rate: float,
              seconds: float) -> list[Sample]:
    """Offer ``rate`` requests/s for ``seconds``, drawing requests in
    order from ``reqs`` (request ``i`` gets rid ``first_rid + i``).
    Bodies are kept for every ``KEEP_BODY_EVERY``-th request."""
    offsets = (np.arange(int(rate * seconds)) / rate).tolist()
    if len(offsets) > len(reqs):
        raise ValueError("not enough generated requests for this phase")
    out: list[Sample | None] = [None] * len(offsets)
    nxt = [0]
    lock = threading.Lock()
    t0 = time.perf_counter() + 0.05
    deadline = t0 + seconds + DRAIN_S

    def sender():
        while True:
            with lock:
                i = nxt[0]
                nxt[0] += 1
            if i >= len(offsets):
                return
            due = t0 + offsets[i]
            now = time.perf_counter()
            if due > now:
                time.sleep(due - now)
            sent = time.perf_counter()
            if sent > deadline:
                out[i] = Sample(first_rid + i, due, sent, sent, 0, None)
                continue
            status, body = get(port, search_path(reqs[i], first_rid + i))
            keep = i % KEEP_BODY_EVERY == 0
            out[i] = Sample(first_rid + i, due, sent, time.perf_counter(),
                            status, body if keep else None)

    threads = [threading.Thread(target=sender, daemon=True)
               for _ in range(sender_threads())]
    for t in threads:
        t.start()
    for t in threads:
        t.join(seconds + DRAIN_S + TIMEOUT_S + 5)
        if t.is_alive():
            raise RuntimeError("load generator thread did not finish")
    return out

