"""Fake fetchers that observe how the Jolokia source fetches a slice.

``barrier_fetch`` answers only when every target of its slice is in
flight at once: each call waits on a ``threading.Barrier`` shared by
the slice, so a slice fetched one target at a time times out on the
first call and returns ``None`` (a 599 row).  Hosts name their slice
and its size: ``http://<run>-s<slice>-n<size>-<i>:8778``.

``fetch_failing_host`` is the Jolokia + Connect REST fake, except that
every URL on a host starting ``dead-`` gets no response.
"""

from __future__ import annotations

import re
import threading

from tests.fake_connect_and_jolokia import fetch as fake_fetch

BARRIER_TIMEOUT_S = 5.0
_SLICE_RE = re.compile(r"^http://(\w+-s\d+)-n(\d+)-\d+:")
_barriers: dict[str, threading.Barrier] = {}
_lock = threading.Lock()


def barrier_fetch(url: str, timeout: float = 10.0) -> str | None:
    m = _SLICE_RE.match(url)
    if m is None:
        return None
    key, parties = m.group(1), int(m.group(2))
    with _lock:
        barrier = _barriers.setdefault(key, threading.Barrier(parties))
    try:
        barrier.wait(BARRIER_TIMEOUT_S)
    except threading.BrokenBarrierError:
        return None
    return fake_fetch(url, timeout)


def fetch_failing_host(url: str, timeout: float = 10.0) -> str | None:
    if url.startswith("http://dead-"):
        return None
    return fake_fetch(url, timeout)
