"""Machine-condition probes read from /proc: CPU count, hypervisor steal
and the peak resident memory of this process tree (driver JVM plus the
Python workers it forks)."""

from __future__ import annotations

import os
import signal
import threading
import time


def nproc() -> int:
    """CPUs this process may run on (what `nproc` prints)."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def read_proc_stat() -> tuple[int, int, int]:
    """(steal, idle, total) jiffies from the aggregate `cpu` line of
    /proc/stat, idle counting iowait; (0, 0, 0) where the file cannot be
    read."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        vals = [int(x) for x in parts[1:]]
    except (OSError, ValueError):
        return 0, 0, 0
    return (vals[7] if len(vals) > 7 else 0), sum(vals[3:5]), sum(vals)


def steal_pct(before: tuple, after: tuple) -> float | None:
    """Steal as a percentage of all-vCPU time between two readings of
    read_proc_stat; None when no time elapsed or /proc/stat is missing."""
    (s0, _, t0), (s1, _, t1) = before, after
    if t1 <= t0:
        return None
    return 100.0 * (s1 - s0) / (t1 - t0)


def steal_share(before: tuple, after: tuple) -> float:
    """Steal as a share of the vCPU time that was not idle (run or
    stolen) between two readings of read_proc_stat: the share of the time
    the VM wanted to run that the hypervisor gave to other guests. 0 when
    nothing ran or /proc/stat is missing."""
    (s0, i0, t0), (s1, i1, t1) = before, after
    wanted = (t1 - t0) - (i1 - i0)
    return (s1 - s0) / wanted if wanted > 0 else 0.0


def tree_cpu_s(root: int) -> float:
    """User plus system CPU seconds of ``root`` and its live descendants."""
    total = 0
    for pid in [root] + descendants(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += int(fields[11]) + int(fields[12])
    return total / os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces and parentheses: ppid is the
        # second field after the last ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants(root: int) -> list[int]:
    kids = _children()
    out, stack = [], list(kids.get(root, []))
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(kids.get(pid, []))
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def tree_rss_kb(root: int) -> int:
    """Summed VmRSS of ``root`` and its long-lived descendants. The root is
    the PySpark driver, which runs the engine's driver-side work (collects,
    union-find) as well as the benchmark. Children the JVM forks for
    helpers are skipped, except its Python workers: until it execs, a
    forked child reports the whole JVM's resident set a second time."""
    kids = _children()
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        total += _rss_kb(pid)
        jvm = _comm(pid) == "java"
        stack.extend(c for c in kids.get(pid, [])
                     if not jvm or _comm(c).startswith("python"))
    return total


def _alive(pid: int) -> bool:
    """True while ``pid`` runs; a zombie (exited, not yet reaped) is not."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def wait_gone(pids: list[int], timeout_s: float) -> None:
    """Wait up to ``timeout_s`` until none of ``pids`` runs; then SIGKILL
    what is left and wait up to ``timeout_s`` again."""
    for attempt in range(2):
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            pids = [p for p in pids if _alive(p)]
            if not pids:
                return
            time.sleep(0.05)
        if attempt == 0:
            for p in pids:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass


class RssSampler:
    """Samples tree_rss_kb(os.getpid()) on a daemon thread and keeps the
    peak. Use as a context manager; ``peak_mb`` is valid after exit."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, tree_rss_kb(root))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0
