"""Host witnesses read from /proc: CPU steal, process-tree CPU and RSS.

The load average is not a quietness witness here: at ``local[N]`` it
counts the benchmark's own threads.  Steal is what other tenants took
from this machine's CPUs while a pass ran.
"""

from __future__ import annotations

import os
import signal
import threading
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")


def cores() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def machine_ticks() -> tuple[int, int, int]:
    """(busy, steal, cpus) from ``/proc/stat``: busy is user + nice +
    system + irq + softirq of every CPU the kernel shows, in clock
    ticks."""
    with open("/proc/stat") as f:
        lines = f.read().splitlines()
    fields = [int(x) for x in lines[0].split()[1:]]
    cpus = sum(1 for line in lines if line.startswith("cpu")
               and line[3:4].isdigit())
    busy = fields[0] + fields[1] + fields[2] + fields[5] + fields[6]
    return busy, fields[7], cpus


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2:].split()


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def process_tree(root: int) -> list[int]:
    """``root`` and every live descendant (the JVM, Python workers).

    A child the JVM is spawning shares the JVM's memory until it execs
    (vfork); it is left out, or the JVM would be counted twice.  It has
    the JVM's code and stack addresses but the spawning thread's name;
    Python workers forked by their daemon keep the daemon's name."""
    stats: dict[int, list[str]] = {}
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        for child in children.get(pid, ()):
            # startcode, endcode, startstack are fields 26-28 of stat
            if (stats[child][23:26] == stats[pid][23:26]
                    and stats[child][23] != "0"
                    and _comm(child) != _comm(pid)):
                continue
            todo.append(child)
    return out


def descendants(root: int) -> list[int]:
    """Every live process below ``root``, vfork children included."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], list(children.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _alive(pid: int, start: str) -> bool:
    """``pid`` still runs and is the process that started at ``start``
    (field 22 of stat), not a later process given its id.  A process
    whose main thread has exited reads as a zombie while its other
    threads run on (the JVM shuts down that way); only a zombie with no
    other thread has ended."""
    st = _stat(pid)
    if st is None or st[19] != start:
        return False
    if st[0] != "Z":
        return True
    try:
        return len(os.listdir(f"/proc/{pid}/task")) > 1
    except OSError:
        return False


def become_subreaper() -> None:
    """Make this process the parent of every orphaned descendant, so
    that a Python worker whose JVM exits first is still waited for and
    reaped here, not left to init."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def reap_children(timeout_s: float = 30.0) -> bool:
    """Wait for and reap every child of this process; False if some
    child was still running at the deadline."""
    deadline = time.monotonic() + timeout_s
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return True
        if pid == 0:
            if time.monotonic() >= deadline:
                return False
            time.sleep(0.05)


def end_processes(pids: list[int], grace_s: float = 20.0) -> list[int]:
    """Wait up to ``grace_s`` for ``pids`` to exit, then SIGTERM and at
    last SIGKILL whatever is left, and wait until every one has ended.
    Returns the pids that had to be signalled."""
    started = {}
    for pid in pids:
        st = _stat(pid)
        if st is not None:
            started[pid] = st[19]
    signalled: list[int] = []
    for sig, wait_s in ((None, grace_s), (signal.SIGTERM, 5.0),
                        (signal.SIGKILL, 30.0)):
        live = [p for p, s in started.items() if _alive(p, s)]
        if sig is not None:
            for pid in live:
                try:
                    os.kill(pid, sig)
                    signalled.append(pid)
                except OSError:
                    pass
        deadline = time.monotonic() + wait_s
        while live and time.monotonic() < deadline:
            time.sleep(0.05)
            live = [p for p in live if _alive(p, started[p])]
        if not live:
            break
    return sorted(set(signalled))


def tree_cpu_s(root: int) -> dict[str, float]:
    """User+system CPU of the tree by process name, reaped children
    included."""
    out: dict[str, float] = {}
    for pid in process_tree(root):
        st = _stat(pid)
        if st is not None:
            # utime, stime, cutime, cstime are fields 14-17 of stat
            name = _comm(pid)
            out[name] = out.get(name, 0.0) + sum(
                int(x) for x in st[11:15]) / CLK_TCK
    return out


def tree_rss_bytes(root: int) -> dict[str, int]:
    """RSS of the tree by process name (``java``, ``python3``, ...)."""
    out: dict[str, int] = {}
    for pid in process_tree(root):
        name = _comm(pid)
        try:
            with open(f"/proc/{pid}/statm") as f:
                rss = int(f.read().split()[1]) * PAGE
        except OSError:
            continue
        out[name] = out.get(name, 0) + rss
        out[f"n_{name}"] = out.get(f"n_{name}", 0) + 1
    return out


class Witness:
    """Wall time, steal, this process tree's CPU and everyone else's
    CPU, summed over ``start()``/``stop()`` intervals.

    Containers on one machine share its CPUs without showing up as
    steal; ``others_cpu_share`` (machine busy time minus this tree's)
    is what they took."""

    def __init__(self, root: int):
        self.root = root
        self.wall_s = self.steal_s = self.busy_s = 0.0
        self.cpu_by_name: dict[str, float] = {}

    def start(self) -> None:
        self._t = time.perf_counter()
        self._cpu = tree_cpu_s(self.root)
        self._busy, self._steal, self.cpus = machine_ticks()

    def stop(self) -> None:
        busy, steal, _ = machine_ticks()
        self.wall_s += time.perf_counter() - self._t
        for name, cpu in tree_cpu_s(self.root).items():
            # a process that started during the interval counts in full
            self.cpu_by_name[name] = (self.cpu_by_name.get(name, 0.0)
                                      + cpu - self._cpu.get(name, 0.0))
        self.steal_s += (steal - self._steal) / CLK_TCK
        self.busy_s += (busy - self._busy) / CLK_TCK

    def report(self) -> dict:
        capacity = max(self.wall_s * self.cpus, 1e-9)
        cpu_s = sum(self.cpu_by_name.values())
        return {
            "steal_share": self.steal_s / capacity,
            "others_cpu_share": max(self.busy_s - cpu_s, 0.0) / capacity,
            "process_cpu_s": cpu_s,
            "process_cpu_by_name_s": self.cpu_by_name,
            "load1": os.getloadavg()[0],
        }


class RssSampler:
    """Peak RSS of the process tree, sampled on a thread while running."""

    def __init__(self, root: int, interval_s: float = 0.2):
        self.root = root
        self.interval_s = interval_s
        self.peak = 0
        self.peak_parts: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        parts = tree_rss_bytes(self.root)
        total = sum(v for k, v in parts.items() if not k.startswith("n_"))
        if total > self.peak:
            self.peak, self.peak_parts = total, parts

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()
