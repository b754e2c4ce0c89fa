"""CPU, memory and steal readings from ``/proc`` for the benchmark's own
process tree (driver Python → JVM → Python workers), with the CPU of the
JVM's JIT-compiler and garbage-collector threads read apart."""

from __future__ import annotations

import os
import threading
import time

_HZ = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # the command name may contain spaces: split after its closing paren
    return raw[raw.rindex(")") + 2:].split()


def tree(root: int) -> list[int]:
    """``root`` and all its descendants."""
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


def cpu_seconds(root: int) -> float:
    """User + system CPU seconds of the live tree, plus what its reaped
    children left in their parents' cutime/cstime."""
    ticks = 0
    for pid in tree(root):
        st = _stat(pid)
        if st is not None:
            # fields 14-17 of stat (1-based): utime stime cutime cstime
            ticks += sum(int(v) for v in st[11:15])
    return ticks / _HZ


def jvm_pid(root: int) -> int | None:
    """The JVM among ``root``'s descendants (the py4j gateway)."""
    for pid in tree(root):
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() == "java":
                    return pid
        except OSError:
            pass
    return None


# JVM threads by name prefix (``comm`` is cut at 15 characters)
_SERVICE = (("C1 CompilerThre", "jit"), ("C2 CompilerThre", "jit"),
            ("GC Thread#", "gc"), ("G1 ", "gc"))


class ServiceThreads:
    """CPU seconds of the JVM's JIT-compiler and GC threads.  A thread that
    ends keeps the CPU of its last reading, so readings are also taken on
    the sampler thread to catch compiler threads the JVM retires."""

    def __init__(self, pid: int | None):
        self.pid = pid
        self._kind: dict[str, str | None] = {}
        self._ticks: dict[str, int] = {}
        self._lock = threading.Lock()

    def seconds(self) -> dict[str, float]:
        """Read now; ``{"jit": s, "gc": s}`` summed over every such thread
        seen so far."""
        with self._lock:
            task = f"/proc/{self.pid}/task"
            try:
                tids = os.listdir(task) if self.pid else []
            except OSError:  # the JVM has ended
                tids = []
            for tid in tids:
                if tid not in self._kind:
                    try:
                        with open(f"{task}/{tid}/comm") as f:
                            comm = f.read().strip()
                    except OSError:
                        continue
                    if comm == "java":  # not named yet: look again next time
                        continue
                    self._kind[tid] = next(
                        (k for p, k in _SERVICE if comm.startswith(p)), None)
                if self._kind[tid]:
                    try:
                        with open(f"{task}/{tid}/stat") as f:
                            raw = f.read()
                    except OSError:
                        continue
                    st = raw[raw.rindex(")") + 2:].split()
                    self._ticks[tid] = int(st[11]) + int(st[12])
            out = {"jit": 0, "gc": 0}
            for tid, ticks in self._ticks.items():
                out[self._kind[tid]] += ticks
            return {k: v / _HZ for k, v in out.items()}


def rss_bytes(root: int) -> int:
    total = 0
    for pid in tree(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


def steal_ticks() -> int:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def process_start_epoch() -> float:
    """Wall-clock time at which this process started (10 ms resolution)."""
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    age = uptime - int(_stat(os.getpid())[19]) / _HZ
    return time.time() - age


class RssSampler:
    """Samples the tree's summed RSS (and reads ``threads``) on a background
    thread; ``peak`` is the largest sample seen while running."""

    def __init__(self, root: int, threads: ServiceThreads | None = None,
                 interval: float = 0.2):
        self.root = root
        self.threads = threads
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def __enter__(self) -> "RssSampler":
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, rss_bytes(self.root))
            if self.threads is not None:
                self.threads.seconds()
            self._stop.wait(self.interval)

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, rss_bytes(self.root))
