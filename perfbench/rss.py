"""Peak resident memory of the driver JVM plus its Python workers, from /proc.

In local mode the harness starts the driver JVM (spark-submit execs into
it, so it is a direct child of the harness), and the JVM forks the
``pyspark.daemon`` processes that fork the Python workers.  The sampler
sums the RSS of exactly those processes.  It skips every other descendant
on purpose: a child the JVM spawns shares the JVM's address space until it
execs (Java launches processes with posix_spawn), so in that window it
reports the JVM's whole RSS under the JVM's command line -- counting it
would add a second heap to the sum by chance.  The harness process itself
is excluded.

RSS comes from ``/proc/<pid>/statm``, which is cheap to read; PSS from
``smaps_rollup`` would walk the JVM's page tables under its memory-map
lock (about 16 ms for a 2 GB heap) on every sample.
"""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _procs() -> dict[int, tuple[int, str]]:
    """pid -> (ppid, command line) for every process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
            with open(f"/proc/{name}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:  # exited while listing
            continue
        # ppid follows the parenthesised command name
        out[int(name)] = (int(stat.rsplit(")", 1)[1].split()[1]), cmd)
    return out


def descendants(pid: int, procs: dict | None = None) -> list[int]:
    procs = _procs() if procs is None else procs
    kids: dict[int, list[int]] = {}
    for p, (ppid, _) in procs.items():
        kids.setdefault(ppid, []).append(p)
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def engine_pids(me: int, procs: dict) -> list[int]:
    """The driver JVM (a direct child running java) and the pyspark
    daemon/worker processes among ``me``'s descendants."""
    return [
        p
        for p in descendants(me, procs)
        if (procs[p][0] == me and "java" in procs[p][1]) or "pyspark.daemon" in procs[p][1]
    ]


def rss_bytes(pids) -> int:
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:  # exited between listing and reading
            continue
    return total


class PeakRss:
    """Background sampler of the engine processes' summed RSS."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, rss_bytes(engine_pids(me, _procs())))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
