"""Measurement plumbing: spans, function wrappers, Spark job counts, RSS.

Spans live in memory and are written once, at exit. Wrappers patch a
layer's public function for the traced run only and restore it afterwards;
nothing inside the package is instrumented.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import os
import threading
import time


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[tuple[int, int]] = []  # (span id, trace id)
        self._patched: list[tuple] = []
        self.overhead_s = 0.0  # time spent in the tracer's own bookkeeping

    @contextlib.contextmanager
    def span(self, name: str):
        """A span; spans opened inside it are its children and share its
        trace id (the id of the outermost span)."""
        entered = time.perf_counter()
        sid = next(self._ids)
        parent, trace = self._stack[-1] if self._stack else (None, sid)
        self._stack.append((sid, trace))
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            self.spans.append(dict(id=sid, parent=parent, trace=trace,
                                   name=name, start=t0, end=t1))
            self.overhead_s += (t0 - entered) + (time.perf_counter() - t1)

    def wrap(self, owner, attr: str, name) -> None:
        """Replace ``owner.attr`` by a spanned call. ``name`` is a string or
        a function of the call's arguments returning one."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def spanned(*args, **kwargs):
            with self.span(name(*args, **kwargs) if callable(name) else name):
                return orig(*args, **kwargs)

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, spanned)

    def unwrap_all(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    # -------------------------------------------------------- aggregation

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name)

    def children_total(self, span: dict) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["parent"] == span["id"])

    def last(self, name: str) -> dict:
        return [s for s in self.spans if s["name"] == name][-1]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class JobCounter:
    """Spark jobs per operation via job groups; the status tracker reads
    scheduler state the driver keeps anyway, so counting adds no job."""

    def __init__(self, sc):
        self.sc = sc
        self._n = itertools.count()
        self.overhead_s = 0.0  # time spent setting and reading job groups

    @contextlib.contextmanager
    def group(self, label: str):
        t0 = time.perf_counter()
        gid = f"perfbench-{label}-{next(self._n)}"
        self.sc.setJobGroup(gid, label)
        box = {"group": gid}
        self.overhead_s += time.perf_counter() - t0
        try:
            yield box
        finally:
            t0 = time.perf_counter()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            box["jobs"] = len(self.sc.statusTracker().getJobIdsForGroup(gid))
            self.overhead_s += time.perf_counter() - t0


def _children() -> dict[int, list[int]]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    return children


def descendants(root: int) -> list[int]:
    """Every live process below ``root`` (JVM, Python workers, ...)."""
    children, out, todo = _children(), [], [root]
    while todo:
        kids = children.get(todo.pop(), ())
        out.extend(kids)
        todo.extend(kids)
    return out


def _tree_rss_bytes(root: int) -> int:
    """Summed RSS of ``root`` and all its descendants (driver, JVM, Python
    workers), read from /proc."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in [root] + descendants(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            pass
    return total


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) used so far by ``root`` and every
    descendant, reaped ones included (through their parents' cutime and
    cstime), read from /proc. Time the host gave to other guests (steal)
    is not charged to any process."""
    ticks = 0
    for pid in [root] + descendants(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                ticks += sum(int(x) for x in
                             f.read().rsplit(")", 1)[1].split()[11:15])
        except (OSError, IndexError, ValueError):
            pass
    return ticks / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Background sampler of the process tree's peak RSS."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(pid))
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, _tree_rss_bytes(os.getpid()))

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20
