"""Host meters for one timed step of a pass.

A step records its wall time, the CPU-seconds of this process tree
(python, JVM and Python UDF workers), the peak resident memory of that
tree, and two noise readings for the same interval: hypervisor steal
and CPU burned by processes outside the tree. The noise readings are
recorded next to every sample and never used to drop one.
"""

from __future__ import annotations

import os
import threading
import time

from opentelemetry_collector_spark.hostacct import SectionMeter

_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def steal_secs() -> float:
    """Host-wide steal time so far, from the aggregate /proc/stat line."""
    with open("/proc/stat") as f:
        parts = f.readline().split()
    return int(parts[8]) / _TCK


def tree_pids(root: int | None = None) -> dict[int, str]:
    """pid -> comm for ``root`` and all its descendants. The pids
    themselves are needed here (to read RSS and to reap children);
    ``hostacct.tree_cpu_secs`` walks the same tree but returns only
    its CPU total."""
    root = os.getpid() if root is None else root
    table: dict[int, tuple[int, str]] = {}
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                s = f.read()
        except OSError:
            continue
        ppid = int(s[s.rindex(")") + 2 :].split()[1])
        table[int(d)] = (ppid, s[s.index("(") + 1 : s.rindex(")")])
        kids.setdefault(ppid, []).append(int(d))
    out, stack = {}, [root]
    while stack:
        p = stack.pop()
        if p in table:
            out[p] = table[p][1]
        stack.extend(kids.get(p, []))
    return out


def _rss_by_comm(pids: dict[int, str]) -> dict[str, int]:
    """Resident bytes of ``pids`` summed per process name."""
    out: dict[str, int] = {}
    for p, comm in pids.items():
        try:
            with open(f"/proc/{p}/statm") as f:
                rss = int(f.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            continue
        out[comm] = out.get(comm, 0) + rss
    return out


class TreeSampler:
    """Background sampler of the process tree's resident memory.

    Re-lists the tree every ``refresh`` seconds and reads the RSS of the
    known pids every ``interval`` seconds, so sampling stays cheap next
    to the work it measures. Also remembers every Python process it has
    seen below this one: the UDF daemon and its workers.
    """

    def __init__(self, interval: float = 0.1, refresh: float = 0.5):
        self.interval, self.refresh = interval, refresh
        self._pids: dict[int, str] = {}
        self._me = os.getpid()
        self.workers_seen: set[int] = set()
        self._peak = 0
        self._peak_by: dict[str, int] = {}
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _relist(self) -> None:
        self._pids = tree_pids(self._me)
        self.workers_seen.update(
            p for p, comm in self._pids.items() if p != self._me and comm.startswith("python")
        )

    def _loop(self) -> None:
        next_list = 0.0
        while not self._stop.is_set():
            now = time.monotonic()
            if now >= next_list:
                self._relist()
                next_list = now + self.refresh
            self._sample()
            self._stop.wait(self.interval)

    def _sample(self) -> None:
        by = _rss_by_comm(self._pids)
        with self._lock:
            if sum(by.values()) >= self._peak:
                self._peak, self._peak_by = sum(by.values()), by

    def reset_peak(self) -> None:
        self._relist()
        with self._lock:
            self._peak = 0
        self._sample()

    def peak(self) -> tuple[float, dict[str, float]]:
        """Peak tree RSS in MB since the last reset, and its split by
        process name at that moment."""
        self._sample()
        with self._lock:
            return self._peak / 2**20, {k: v / 2**20 for k, v in self._peak_by.items()}


class StepMeter:
    """Context manager metering one step; ``record`` holds the result.

    Wall time, tree CPU and other-process CPU come from
    ``hostacct.SectionMeter``; its ``ext_frac`` counts steal as
    external, so steal is read alongside and split out of it."""

    def __init__(self, sampler: TreeSampler, cores: int):
        self.sampler, self.cores = sampler, cores
        self.record: dict = {}

    def __enter__(self) -> "StepMeter":
        self.sampler.reset_peak()
        self._meter = SectionMeter(self.cores)
        self._steal0 = steal_secs()
        self._meter.start()
        return self

    def __exit__(self, *exc) -> None:
        sec = self._meter.stop()
        steal_frac = (steal_secs() - self._steal0) / (self.cores * sec["sec"])
        peak, peak_by = self.sampler.peak()
        self.record = {
            "run_s": sec["sec"],
            "cpu_s": sec["self_cpu_secs"],
            "peak_rss_mb": peak,
            "peak_rss_by_process_mb": peak_by,
            "steal_frac": steal_frac,
            "other_cpu_frac": max(0.0, sec["ext_frac"] - steal_frac),
        }
