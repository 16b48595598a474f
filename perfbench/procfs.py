"""CPU time and memory of the Spark JVM and its python workers, read from /proc."""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # fields after the parenthesised command name, which may contain spaces
    return raw[raw.rindex(")") + 2 :].split()


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
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


def alive(pid: int) -> bool:
    st = _stat(pid)
    return st is not None and st[0] != "Z"


def tree_cpu_s(root: int) -> float:
    """User+sys seconds of ``root``'s tree, including reaped children."""
    total = 0
    for pid in descendants(root):
        st = _stat(pid)
        if st is not None:  # utime, stime, cutime, cstime
            total += sum(int(v) for v in st[11:15])
    return total / _TICK


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) ticks over all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:9]]
    return vals[7], sum(vals)


def steal_pct(since: tuple[int, int]) -> float:
    """Share of CPU time the hypervisor took from this machine since ``since``."""
    steal, total = cpu_ticks()
    return 100.0 * (steal - since[0]) / max(total - since[1], 1)


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return b"python" in f.read().split(b"\0", 1)[0]
    except OSError:
        return False


class PssSampler:
    """One thread that samples the PSS of ``root``'s python descendants.

    Use as a context manager around one job; ``peak_mb`` is the highest PSS
    of a single python worker seen.  The sum over workers is not used: Spark
    forks an extra reused worker now and then, and each one adds its ~80 MB of
    interpreter and libraries, which swamps the memory the job itself holds.
    """

    INTERVAL_S = 0.05
    RELIST_EVERY = 10

    def __init__(self, root: int):
        self.root = root
        self.peak_mb = 0.0
        self._pids: list[int] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _list(self) -> None:
        self._pids = [p for p in descendants(self.root) if p != self.root and _is_python(p)]

    def _sample(self) -> None:
        kb = max((_pss_kb(p) for p in self._pids), default=0)
        self.peak_mb = max(self.peak_mb, kb / 1024.0)

    def _run(self) -> None:
        # python workers are reused across tasks, so the process list is
        # refreshed only every few samples to keep the sampler light
        n = 0
        while not self._stop.is_set():
            if n % self.RELIST_EVERY == 0:
                self._list()
            self._sample()
            n += 1
            self._stop.wait(self.INTERVAL_S)

    def __enter__(self) -> "PssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self._list()
        self._sample()  # the job's end state counts too
