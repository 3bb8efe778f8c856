"""Spans and process-tree sampling, kept in memory and read at exit.

A span is ``(id, name, start, end, parent)``, recorded around a call from the
benchmark into one layer of the engine; its layer is the name's first dotted
part. Nothing here touches engine code.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time

_TICKS = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


class Tracer:
    """Records spans when enabled; ``span`` is a no-op context otherwise.

    ``overhead_s`` sums the time spent recording spans and inside blocks
    wrapped in ``instrument`` (reads of Spark's bookkeeping made while the
    workload runs): the cost tracing adds to a run over an untraced one."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.overhead_s = 0.0

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        rec = {
            "id": len(self.spans),
            "name": name,
            "start": t0,
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self.overhead_s += time.perf_counter() - t0
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            rec["end"] = t1
            self.overhead_s += time.perf_counter() - t1

    @contextlib.contextmanager
    def instrument(self):
        """Count the block's time as tracing overhead."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.overhead_s += time.perf_counter() - t0

    def self_seconds(self) -> dict[str, float]:
        """Per layer: span durations minus the part their children cover."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered = 0.0
            edge = s["start"]
            for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], edge), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    edge = hi
            layer = s["name"].split(".")[0]
            out[layer] = out.get(layer, 0.0) + (s["end"] - s["start"]) - covered
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            data = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # comm (field 2) may hold spaces; everything after its ')' splits cleanly
    return data[data.rindex(")") + 2 :].split()


def tree_pids(root: int) -> list[int]:
    """``root`` and every live descendant."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if name.isdigit() and (fields := _stat_fields(int(name))):
            parent[int(name)] = int(fields[1])
    out, frontier = [], [root]
    while frontier:
        pid = frontier.pop()
        out.append(pid)
        frontier.extend(p for p, pp in parent.items() if pp == pid)
    return out


def tree_usage(root: int) -> tuple[float, float, float]:
    """(CPU seconds, RSS MB, RSS MB of the descendants alone) of the process
    tree under ``root``. CPU counts each live process's own time plus that of
    its reaped children, so workers that exit between two readings are not
    lost."""
    cpu = rss = rss_root = 0
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields is None:
            continue
        # fields[11:15] = utime stime cutime cstime; fields[21] = rss pages
        cpu += sum(int(x) for x in fields[11:15])
        rss += int(fields[21])
        if pid == root:
            rss_root = int(fields[21])
    return cpu / _TICKS, rss * _PAGE / 1e6, (rss - rss_root) * _PAGE / 1e6


class TreeSampler:
    """Background sampler of a process tree's RSS; read ``peak_mb`` (whole
    tree) and ``peak_children_mb`` (without the root) after ``stop``. CPU is
    read on demand with ``cpu_seconds``."""

    def __init__(self, root: int, interval: float = 0.1):
        self.root = root
        self.interval = interval
        self.peak_mb = self.peak_children_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            _, rss, children = tree_usage(self.root)
            self.peak_mb = max(self.peak_mb, rss)
            self.peak_children_mb = max(self.peak_children_mb, children)
            self._stop.wait(self.interval)

    def reset(self) -> None:
        self.peak_mb = self.peak_children_mb = 0.0

    def cpu_seconds(self) -> float:
        return tree_usage(self.root)[0]

    def __enter__(self) -> "TreeSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat, in clock ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor took between two readings, in %."""
    delta = [a - b for a, b in zip(after, before)]
    total = sum(delta[:8])  # guest time is already inside user/nice
    return 100.0 * delta[7] / total if total else 0.0
