"""Host facts a run records about itself, and the JVM process tree's memory.

Linux ``/proc`` only.
"""

from __future__ import annotations

import os
import threading
import time


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_ticks() -> tuple[int, int]:
    """(all, steal) CPU ticks of the whole machine since boot. Steal is time
    a virtual CPU was ready to run but the hypervisor ran someone else."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return sum(ticks[:8]), ticks[7]  # user..steal; guest time is inside user


def steal_frac(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[0] - before[0]
    return (after[1] - before[1]) / total if total else 0.0


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                # the command name may hold spaces; ppid follows its ')'
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def cpu_s(pids: list[int]) -> float:
    """User plus system CPU seconds used so far by the live ``pids`` and
    by the children they have reaped (Python workers that exited)."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        except (OSError, IndexError, ValueError):
            continue
    return total / os.sysconf("SC_CLK_TCK")


def rss_bytes(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue  # exited between listing and reading
    return total


class RssSampler:
    """Samples the summed RSS of ``root``'s process tree (the JVM and its
    Python workers) from one thread while active. ``peak`` is the tree's
    maximum, ``peak_root`` the root's own and ``peak_children`` that of the
    processes below the root; ``cpu_s`` is the CPU seconds the sampling
    thread itself used."""

    def __init__(self, root: int, interval_s: float = 0.1):
        self.root = root
        self.interval_s = interval_s
        self.peak = 0
        self.peak_root = 0
        self.peak_children = 0
        self.cpu_s = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            pids = descendants(self.root)  # the root first
            root, children = rss_bytes(pids[:1]), rss_bytes(pids[1:])
            self.peak = max(self.peak, root + children)
            self.peak_root = max(self.peak_root, root)
            self.peak_children = max(self.peak_children, children)
            self._stop.wait(self.interval_s)
        self.cpu_s = time.thread_time()

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def wait_gone(pids: list[int], timeout_s: float) -> bool:
    """Poll until none of ``pids`` is running (exited or a zombie);
    False on timeout."""
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        if not any(_alive(p) for p in pids):
            return True
        time.sleep(0.05)
    return False
