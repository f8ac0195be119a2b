"""Box-noise record and memory sampling for the benchmark's process tree.

``snapshot()`` reads the CPU pressure, the VM's steal time, the load
average and the CPU seconds of this process and all its descendants (the
JVM and its Python workers), so a run disturbed by outside load can be
spotted afterwards: outside load shows as steal, or as CPU pressure or
load that the tree's own CPU time does not explain. Nothing here gates or waits on load.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pids(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def tree_cpu_s(pids) -> float:
    """CPU seconds of ``pids``: user and system time of each (stat fields
    14-15) plus that of its children already reaped (fields 16-17), so
    the JVM's time still counts after it has exited."""
    total = 0
    for pid in pids:
        f = _stat_fields(pid)
        if f is not None:
            total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _TICK


def rss_by_command(pids) -> dict[str, int]:
    """Summed RSS bytes of ``pids``, keyed by command name."""
    out: dict[str, int] = {}
    for pid in pids:
        f = _stat_fields(pid)
        if f is None:
            continue
        try:
            with open(f"/proc/{pid}/comm") as fh:
                comm = fh.read().strip()
        except OSError:
            continue
        out[comm] = out.get(comm, 0) + int(f[21]) * _PAGE
    return out


def snapshot() -> dict:
    rec = {"time": time.time()}
    try:
        with open("/proc/pressure/cpu") as fh:
            for line in fh:
                kind, *pairs = line.split()
                for pair in pairs:
                    k, v = pair.split("=")
                    if k in ("avg10", "avg60"):
                        rec[f"psi_cpu_{kind}_{k}"] = float(v)
    except OSError:
        pass
    with open("/proc/stat") as fh:
        # aggregate cpu line; field 8 is steal: time the hypervisor gave
        # this VM's CPUs to someone else
        rec["steal_s"] = int(fh.readline().split()[8]) / _TICK
    rec["loadavg_1m"] = os.getloadavg()[0]
    rec["tree_cpu_s"] = tree_cpu_s(tree_pids())
    return rec


class RssSampler:
    """Samples the process tree's summed RSS on a thread until ``stop()``;
    ``peak_bytes`` is the highest sum seen and ``peak_split`` its parts by
    command name."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self.peak_split: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            split = rss_by_command(tree_pids())
            total = sum(split.values())
            if total > self.peak_bytes:
                self.peak_bytes, self.peak_split = total, split
            self._stop.wait(self.interval_s)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
