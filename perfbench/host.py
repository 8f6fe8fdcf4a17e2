"""Host facts for the benchmark: process-tree peak memory, co-tenant evidence
(CPU steal and pressure-stall deltas) and the session size derived from the
machine. Linux ``/proc`` only; the co-tenant readers degrade to ``None``
where a file is missing, so that evidence never fails a run."""

from __future__ import annotations

import os
import threading


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory() -> str:
    """An eighth of MemTotal, clamped to [1, 8] GiB: the JVM heap leaves
    room for the Python workers, the OS page cache and other tenants."""
    mib = mem_total_bytes() // 8 // (1 << 20)
    return f"{max(1024, min(8192, mib))}m"


def _children(pid: int) -> list:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except OSError:
        pass
    return out


def _pss(pid: int) -> int:
    """Proportional set size in bytes: resident pages, each shared page
    divided among the processes mapping it."""
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_memory(root: int) -> dict:
    """Resident memory (PSS) of the Python and Java processes in the tree
    under ``root`` — the driver, the JVM and the Python workers — keyed by
    ``"<pid> <command>"``. PSS, not RSS: a sum of RSS counts each page the
    forked workers share once per worker. Other processes are transient
    helpers (the ``chmod`` Hadoop's local file system runs) and are left
    out: until it execs, such a child shares the JVM's address space and
    reads as a second copy of it."""
    out, stack = {}, [root]
    while stack:
        pid = stack.pop()
        try:
            with open(f"/proc/{pid}/comm") as f:
                name = f.read().strip()
            key = f"{pid} {name}"
            if key not in out and (name == "java"
                                   or name.startswith("python")):
                out[key] = _pss(pid)
        except OSError:  # the process ended between listing and reading
            continue
        stack.extend(_children(pid))
    return out


class PeakMemory:
    """Samples the resident memory (PSS) summed over this process and all
    its descendants (driver JVM, Python workers) every ``interval`` seconds
    on a daemon thread; ``stop()`` joins it and returns the peak in bytes.
    ``at_peak`` keeps the per-process split of the peak sample."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self.at_peak = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def start(self) -> "PeakMemory":
        self._thread.start()
        return self

    def _sample(self) -> None:
        split = tree_memory(os.getpid())
        total = sum(split.values())
        if total > self.peak:
            self.peak, self.at_peak = total, split

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def stop(self) -> int:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()
        return self.peak


def _cpu_ticks():
    try:
        with open("/proc/stat") as f:
            vals = [int(v) for v in f.readline().split()[1:]]
    except OSError:
        return None
    # user nice system idle iowait irq softirq steal ...
    return sum(vals[:8]), vals[7]


def _psi(resource: str):
    try:
        with open(f"/proc/pressure/{resource}") as f:
            lines = f.read().split("\n")
    except OSError:
        return None
    out = {}
    for line in lines:
        if line:
            kind, *fields = line.split()
            out[kind] = int(dict(x.split("=") for x in fields)["total"])
    return out


class CoTenant:
    """Snapshot at ``start()``; ``delta()`` gives, over the window, the CPU
    steal share and the pressure-stall time (ms) for cpu and memory — the
    evidence that tells a contended run from a regression."""

    def start(self) -> "CoTenant":
        self._cpu = _cpu_ticks()
        self._psi = {r: _psi(r) for r in ("cpu", "memory")}
        return self

    def delta(self) -> dict:
        out = {}
        cpu = _cpu_ticks()
        if cpu and self._cpu:
            total = cpu[0] - self._cpu[0]
            out["steal_pct"] = (round(100.0 * (cpu[1] - self._cpu[1]) / total, 3)
                                if total else 0.0)
        for res, before in self._psi.items():
            after = _psi(res)
            if before and after:
                for kind in after:
                    if kind in before:
                        out[f"psi_{res}_{kind}_ms"] = round(
                            (after[kind] - before[kind]) / 1000.0, 1)
        return out
