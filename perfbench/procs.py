"""Process bookkeeping from ``/proc`` (no ``psutil`` on the target hosts).

The benchmark starts a JVM (through ``spark-submit``), which starts the
``pyspark.daemon`` and forks Python workers from it. ``ProcWatch`` records
every descendant of the benchmark process it ever sees, keyed by
``(pid, start time)`` so a recycled pid is never mistaken for one of ours,
and reads the workers' peak resident set (``VmHWM``) while they live.
"""

from __future__ import annotations

import os
import signal
import time

Key = tuple[int, int]  # (pid, start time in clock ticks since boot)


def _stat(pid: int) -> tuple[int, int] | None:
    """(ppid, start time) of a live process, or None when it is gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name (field 2) may hold spaces and parentheses: split
    # after its LAST closing parenthesis
    fields = raw[raw.rindex(b")") + 2:].split()
    if fields[0] == b"Z":  # zombie: exited, only awaiting its parent
        return None
    return int(fields[1]), int(fields[19])


def _table() -> dict[int, tuple[int, int]]:
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                out[int(name)] = st
    return out


def descendants(root: int, table=None) -> dict[int, Key]:
    """Every live descendant of ``root``: pid -> key."""
    table = _table() if table is None else table
    out: dict[int, Key] = {}
    for pid, (ppid, start) in table.items():
        p = ppid
        while p > 1:
            if p == root:
                out[pid] = (pid, start)
                break
            p = table[p][0] if p in table else 0
    return out


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole machine since boot."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


class Clock:
    """Wall time of an interval, and the share of the machine's CPU time
    in it that the hypervisor withheld (steal), kept as a diagnostic of
    host contention beside the wall time, never folded into it."""

    def start(self) -> None:
        self._t0 = time.perf_counter(), cpu_ticks()

    def stop(self) -> tuple[float, float]:
        """(wall s, steal share) since :meth:`start`."""
        w0, (s0, c0) = self._t0
        w1, (s1, c1) = time.perf_counter(), cpu_ticks()
        return w1 - w0, (s1 - s0) / (c1 - c0) if c1 > c0 else 0.0


def is_alive(key: Key) -> bool:
    st = _stat(key[0])
    return st is not None and st[1] == key[1]


def cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def vm_hwm_kb(pid: int) -> int:
    """Peak resident set of a process in KiB (0 when it is gone)."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def is_python_worker(cmd: str) -> bool:
    # the daemon runs ``python -m pyspark.daemon``; workers are its forks
    # and keep its command line
    return "pyspark.daemon" in cmd or "pyspark.worker" in cmd


class ProcWatch:
    """Remembers every process the benchmark started, for the leak check
    and the workers' peak memory."""

    def __init__(self, root: int | None = None):
        self.root = root if root is not None else os.getpid()
        self.seen: dict[Key, str] = {}
        self.worker_hwm_kb = 0

    def sample(self) -> None:
        for pid, key in descendants(self.root).items():
            cmd = self.seen.get(key)
            if cmd is None:
                cmd = self.seen[key] = cmdline(pid)
            if is_python_worker(cmd):
                self.worker_hwm_kb = max(self.worker_hwm_kb, vm_hwm_kb(pid))

    def leftovers(self, grace_s: float = 10.0) -> list[str]:
        """Processes started by the benchmark that are still alive after
        ``grace_s``; each is killed so none outlives the run."""
        self.sample()
        deadline = time.monotonic() + grace_s
        live = [k for k in self.seen if is_alive(k)]
        while live and time.monotonic() < deadline:
            time.sleep(0.2)
            live = [k for k in live if is_alive(k)]
        out = []
        for key in live:
            out.append(f"pid {key[0]}: {self.seen[key][:120]}")
            try:
                os.kill(key[0], signal.SIGKILL)
            except OSError:
                pass
        return out
