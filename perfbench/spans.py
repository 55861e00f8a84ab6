"""Spans and memory sampling, both recorded from outside the program.

The benchmark wraps each call into a layer of the package; a ``Tracer``
with ``enabled=False`` keeps no record, so untraced runs pay only for the
clock reads the end-to-end metrics need anyway.
"""

from __future__ import annotations

import itertools
import json
import os
import threading


class Tracer:
    """In-memory spans: name, start, end, parent span, trace id."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)

    def add(
        self,
        name: str,
        start: float,
        end: float,
        parent: int | None = None,
        trace: str | None = None,
        **attrs,
    ) -> int | None:
        """Record a finished span; returns its id (``None`` when disabled)."""
        if not self.enabled:
            return None
        sid = next(self._ids)
        self.spans.append(
            {
                "id": sid,
                "name": name,
                "start": start,
                "end": end,
                "parent": parent,
                "trace": trace,
                **attrs,
            }
        )
        return sid

    def durations_ms(self, name: str) -> list[float]:
        return [(s["end"] - s["start"]) * 1000 for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _parents() -> dict[int, int]:
    """pid -> parent pid for every process visible in /proc."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended while listing
            continue
        # the command name may hold spaces; fields resume after its ")"
        out[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:  # the process ended between listing and reading
        return 0


def descendants_rss_bytes(root: int) -> int:
    """Summed RSS of every descendant of ``root`` (not ``root`` itself):
    the JVM and the Python workers it forks."""
    children: dict[int, list[int]] = {}
    for pid, ppid in _parents().items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, list(children.get(root, ()))
    while todo:
        pid = todo.pop()
        total += _rss_bytes(pid)
        todo.extend(children.get(pid, ()))
    return total


class PeakRss:
    """Samples the descendants' summed RSS on a thread; ``peak_mb`` after stop.

    Disabled, it samples nothing: walking ``/proc`` holds this process's GIL,
    which the listener's sink callback needs, so untraced runs leave it off.
    """

    def __init__(self, enabled: bool, interval_s: float = 0.25):
        self.enabled = enabled
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while True:
            self.peak = max(self.peak, descendants_rss_bytes(me))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> PeakRss:
        if self.enabled:
            self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        if self.enabled:
            self._stop.set()
            self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20
