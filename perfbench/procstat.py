"""/proc readings for the benchmark: process-tree CPU, Python worker peak
RSS, host steal and a busy-loop host probe.  ``psutil`` is not available,
so everything reads ``/proc`` directly (Linux only)."""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name (field 2) may hold spaces; split after its ')'
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all of its live descendants."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """CPU seconds of this process tree: user + system of every live
    process plus what each has reaped from its exited children.  Deltas of
    this sum are exact across worker exits: a reaped child's time moves
    into its parent's ``cutime``/``cstime``."""
    total = 0
    for pid in tree_pids():
        st = _stat(pid)
        if st is not None:
            # fields 14-17 of stat: utime stime cutime cstime
            total += sum(int(v) for v in st[11:15])
    return total / _TICK


def _is_python_worker(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return b"pyspark.daemon" in f.read()
    except OSError:
        return False


def _hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


class WorkerRssSampler:
    """Peak resident set of any Spark Python worker, sampled from
    ``VmHWM`` (the kernel's own high-water mark, so a peak between two
    samples is not lost while the worker lives)."""

    def __init__(self, interval_s: float = 0.25) -> None:
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        for pid in tree_pids():
            if _is_python_worker(pid):
                self.peak_mb = max(self.peak_mb, _hwm_mb(pid))

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def __enter__(self) -> "WorkerRssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of host CPU time stolen by the hypervisor between two
    ``cpu_times`` readings (field 8 of the aggregate cpu line)."""
    delta = [a - b for a, b in zip(after, before)]
    total = sum(delta[:8])
    return delta[7] / total if total else 0.0


def host_probe_s() -> float:
    """Single-core busy loop, run inside a function (module-level loops
    run about twice as slow).  A diagnostic of host speed, not a metric."""
    t0 = time.perf_counter()
    x = 0
    for i in range(5_000_000):
        x += i * i
    return time.perf_counter() - t0
