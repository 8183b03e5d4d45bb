"""Host-side measurements: process-tree memory and the pure-CPU control.

Memory is summed as PSS (proportional set size), not RSS: the Python
workers are forked from one daemon and the JVM forks short-lived helper
processes, and an RSS sum counts every page they share once per process
(a JVM fork alone adds the JVM's whole RSS for its lifetime)."""

from __future__ import annotations

import os
import subprocess
import sys
import threading

# same shape as bench.py's control child: count 100k-increment loops
_CONTROL_CHILD = """
import sys, time
secs = float(sys.argv[1]); t0 = time.time(); n = 0; x = 0
while time.time() - t0 < secs:
    for _ in range(100000): x += 1
    n += 1
print(n)
"""


def cpu_control(seconds: float, procs: int) -> float:
    """Loop iterations per process-second of ``procs`` pure-CPU children.
    Recorded beside every run as a noise reference; it gates nothing."""
    children = [
        subprocess.Popen([sys.executable, "-c", _CONTROL_CHILD, str(seconds)],
                         stdout=subprocess.PIPE, text=True)
        for _ in range(procs)
    ]
    total = sum(int(p.communicate()[0].strip()) for p in children)
    return total / procs / seconds


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # exited while listing
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pss(root: int) -> dict[int, int]:
    """PSS in bytes of ``root`` and each of its descendants."""
    kids = _children_map()
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        out[pid] = int(line.split()[1]) * 1024
                        break
        except OSError:  # exited since the listing
            continue
    return out


class MemSampler:
    """Samples the process tree's summed PSS every ``interval`` seconds in
    a thread and keeps the peak, of the whole tree and of each kind of
    process in it (driver, jvm, py_workers, other)."""

    def __init__(self, interval: float = 0.2):
        self.root = os.getpid()
        self.interval = interval
        self.peak = 0
        self.peak_by_pid: dict[int, int] = {}
        self.peak_by_kind: dict[str, int] = {}  # each kind's own peak
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _kind(self, pid: int) -> str:
        # read every time: spark-submit's launcher execs into the JVM
        try:
            with open(f"/proc/{pid}/cmdline") as f:
                argv = f.read().split("\0")
        except OSError:
            argv = [""]
        return ("driver" if pid == self.root
                else "jvm" if argv[0].endswith("java")
                else "py_workers" if "pyspark.daemon" in argv
                else "other")

    def _sample(self) -> None:
        pss = tree_pss(self.root)
        total = sum(pss.values())
        if total > self.peak:
            self.peak, self.peak_by_pid = total, pss
        kinds: dict[str, int] = {}
        for pid, v in pss.items():
            kind = self._kind(pid)
            kinds[kind] = kinds.get(kind, 0) + v
        for kind, v in kinds.items():
            self.peak_by_kind[kind] = max(v, self.peak_by_kind.get(kind, 0))

    def peak_breakdown_mb(self) -> dict[str, float]:
        """PSS per process at the peak, keyed by pid and command line."""
        out = {}
        for pid, pss in self.peak_by_pid.items():
            try:
                with open(f"/proc/{pid}/cmdline") as f:
                    cmd = f.read().replace("\0", " ")[:60]
            except OSError:
                cmd = "(exited)"
            out[f"{pid} {cmd}"] = pss / 2**20
        return out

    def _loop(self) -> None:
        while True:
            self._sample()
            if self._stop.wait(self.interval):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20

    def peak_by_kind_mb(self) -> dict[str, float]:
        return {k: v / 2**20 for k, v in sorted(self.peak_by_kind.items())}
