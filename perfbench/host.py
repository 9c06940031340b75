"""The host side of a run: load gate, CPU steal, and the process tree
of the driver JVM (its RSS, and waiting for it to end)."""

from __future__ import annotations

import os
import signal
import threading
import time


def cpu_ticks() -> tuple[int, int]:
    """(total, steal) jiffies from /proc/stat."""
    vals = [int(x) for x in open("/proc/stat").readline().split()[1:]]
    return sum(vals), vals[7]


def steal_pct(t0: tuple[int, int], t1: tuple[int, int]) -> float:
    return 100.0 * (t1[1] - t0[1]) / max(t1[0] - t0[0], 1)


# Above this share of CPU time stolen by the hypervisor, a timing
# measures the host's other tenants more than the program: 5% steal
# already slows an operation by 15-25%.
STEAL_MAX_PCT = 5.0
# an execution with less steal than this counts as calm
STEAL_CALM_PCT = 2.0
# medians are taken over at least this many executions
MIN_KEPT = 3


def calm(recs: list[dict]) -> list[dict]:
    """The executions the host stole least from: all calm ones, and at
    least the ``MIN_KEPT`` calmest."""
    recs = sorted(recs, key=lambda r: r["steal_pct"])
    n = sum(r["steal_pct"] < STEAL_CALM_PCT for r in recs)
    return recs[: max(n, MIN_KEPT)]


def wait_for_quiet(load_gate: float, budget_s: float = 5.0) -> tuple[float, float]:
    """Wait (bounded) until the 1-min load average is below load_gate
    and the CPU steal over one second is below STEAL_MAX_PCT.
    Returns (load at start, seconds waited)."""
    t0 = time.monotonic()
    while time.monotonic() - t0 < budget_s:
        ticks = cpu_ticks()
        time.sleep(1)
        if os.getloadavg()[0] < load_gate and steal_pct(ticks, cpu_ticks()) < STEAL_MAX_PCT:
            break
    return os.getloadavg()[0], time.monotonic() - t0


def _stat(pid: int | str) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name."""
    try:
        return open(f"/proc/{pid}/stat").read().rsplit(")", 1)[1].split()
    except OSError:
        return None


class ProcessTree:
    """Samples the summed RSS of a root process (the driver JVM) and
    its descendants (the Python workers) every 0.25 s."""

    def __init__(self) -> None:
        self.root: int | None = None
        self.seen: set[int] = set()
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def pids(self) -> list[int]:
        if self.root is None:
            return []
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            fields = _stat(name) if name.isdigit() else None
            if fields:
                children.setdefault(int(fields[1]), []).append(int(name))
        out, todo = [], [self.root]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, ()))
        return out

    def sample(self) -> None:
        """Add the RSS of the JVM and its Python workers. Other
        descendants are left out: a child the JVM has just spawned
        reports the JVM's whole RSS until it execs, which doubled some
        samples."""
        total = 0
        for pid in self.pids():
            try:
                if pid != self.root and not open(f"/proc/{pid}/comm").read().startswith("python"):
                    self.seen.add(pid)
                    continue
                for line in open(f"/proc/{pid}/status"):
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1])
                        self.seen.add(pid)
            except OSError:
                pass
        self.peak_kb = max(self.peak_kb, total)

    def _loop(self) -> None:
        while not self._stop.wait(0.25):
            self.sample()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()

    def kill(self, pids=None) -> None:
        for pid in pids or self.pids() or list(self.seen):
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass

    def wait_gone(self, timeout: float = 20.0) -> None:
        """Wait until every process ever sampled has exited; kill the
        stragglers after ``timeout``."""
        deadline = time.monotonic() + timeout
        while any((_stat(p) or ["Z"])[0] != "Z" for p in self.seen):
            if time.monotonic() > deadline:
                self.kill(list(self.seen))
                deadline = time.monotonic() + timeout
            time.sleep(0.1)
