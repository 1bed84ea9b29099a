"""Spans, counters, Spark status-store reads and RSS sampling.

Spans are recorded from the benchmark's own files: around each
operation, and around the public functions of the layer modules,
which ``Tracer.install`` wraps for the traced run only.  Spark jobs are
attributed to spans by time window, which is exact with one client
once the listener bus has drained (``Tracer.spark_jobs``).
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import threading
import time
import urllib.request
from datetime import datetime, timezone


class Span:
    __slots__ = ("name", "start", "end", "parent", "run", "py4j", "attrs")

    def __init__(self, name, start, parent, run, attrs):
        self.name, self.start, self.end = name, start, None
        self.parent, self.run, self.py4j, self.attrs = parent, run, 0, attrs

    def as_dict(self, idx):
        return {"id": idx, "name": self.name, "start": self.start, "end": self.end,
                "parent": self.parent, "run": self.run, "py4j_calls": self.py4j,
                **self.attrs}


class Tracer:
    """Records spans in memory when ``enabled``; ``span`` is a cheap
    no-op otherwise.  ``run`` is the id of the current operation."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.run = None
        self.py4j = 0
        self._undo: list = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, time.time(), parent, self.run, attrs)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        p0 = self.py4j
        try:
            yield sp
        finally:
            sp.end = time.time()
            sp.py4j = self.py4j - p0
            self._stack.pop()

    # -- wrappers ---------------------------------------------------------
    def wrap(self, owner, attr: str, name: str, attrs_fn=None):
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            with tracer.span(name, **(attrs_fn(a, kw) if attrs_fn else {})):
                return orig(*a, **kw)

        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, orig))

    def count_py4j(self, gateway_client_cls):
        orig = gateway_client_cls.send_command
        tracer = self

        @functools.wraps(orig)
        def send_command(*a, **kw):
            tracer.py4j += 1
            return orig(*a, **kw)

        gateway_client_cls.send_command = send_command
        self._undo.append((gateway_client_cls, "send_command", orig))

    def uninstall(self):
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    # -- status store -------------------------------------------------------
    @staticmethod
    def _get(sc, path):
        url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/{path}"
        with urllib.request.urlopen(url, timeout=30) as resp:
            return json.load(resp)

    @staticmethod
    def submitted_jobs(sc) -> int:
        """Jobs the scheduler has handed out ids for so far."""
        return sc._jsc.sc().dagScheduler().numTotalJobs()

    def spark_jobs(self, sc, timeout: float = 30.0):
        """Jobs and stages from the status store, after waiting until the
        listener has recorded the end of every submitted job."""
        want = self.submitted_jobs(sc)
        deadline = time.time() + timeout
        while True:
            jobs = self._get(sc, "jobs")
            done = [j for j in jobs if j.get("completionTime")]
            if len(done) >= want or time.time() > deadline:
                break
            time.sleep(0.1)
        stages = self._get(sc, "stages?details=false")
        return jobs, stages


def parse_ts(s: str) -> float:
    """Status-store timestamps look like ``2026-10-16T18:00:00.123GMT``."""
    return datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=timezone.utc).timestamp()


def union_length(intervals) -> float:
    total, end = 0.0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def self_times(spans) -> list[float]:
    """Each span's duration minus the part its child spans cover."""
    kids: dict[int, list] = {}
    for sp in spans:
        if sp.parent is not None:
            kids.setdefault(sp.parent, []).append((sp.start, sp.end))
    return [(sp.end - sp.start) - union_length(kids.get(i, [])) for i, sp in enumerate(spans)]


# ---------------------------------------------------------------------------
# resident memory of this process tree (driver Python, JVM, Python workers)
# ---------------------------------------------------------------------------
def _children_map():
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children_map(), [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def tree_rss(pid: int) -> dict[str, int]:
    """Resident bytes of ``pid`` and its descendants, summed per command
    name.  Each process counts its proportional share (PSS) of pages it
    shares, so a JVM that forks to launch a worker is not counted twice."""
    out: dict[str, int] = {}
    for p in [pid] + descendants(pid):
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                pss = next(int(line.split()[1]) * 1024 for line in f if line.startswith("Pss:"))
            with open(f"/proc/{p}/comm") as f:
                comm = f.read().strip()
        except (OSError, StopIteration):
            continue
        out[comm] = out.get(comm, 0) + pss
    return out


class RssSampler:
    """Samples the process tree's RSS every ``interval`` seconds while
    active; ``peak`` is the largest sample and ``peak_by_command`` its
    split by command name."""

    def __init__(self, interval: float = 0.25):
        self.interval, self.peak, self.peak_by_command = interval, 0, {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self):
        by = tree_rss(os.getpid())
        if sum(by.values()) > self.peak:
            self.peak, self.peak_by_command = sum(by.values()), by

    def _loop(self):
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()
        return False
