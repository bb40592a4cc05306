"""CPU time of the benchmark's process tree, less the JVM's JIT compiler.

Wall-clock time on a shared host moves with how much CPU the host lets the
machine have; CPU time does not count what the host steals, so it repeats
where wall time does not. JIT compiling is warm-up whose share inside a
timed operation depends on the same luck, so the compiler threads are left
out. HotSpot starts and stops compiler threads as its queue grows and
shrinks, and a stopped thread's time stays in its process total, so a
poller records each compiler thread's time while the thread is alive. The
clock's own CPU time is left out too.
"""

from __future__ import annotations

import os
import threading
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")
POLL_S = 0.25


def _stat(path: str) -> tuple[str, list[str]] | None:
    """(comm, the fields after it) of a /proc stat file."""
    try:
        with open(path, encoding="ascii", errors="replace") as fh:
            stat = fh.read()
    except OSError:
        return None
    return stat[stat.index("(") + 1 : stat.rindex(")")], stat[stat.rindex(")") + 2 :].split()


class CpuClock:
    """``seconds()``: CPU seconds (user + system) used so far by this
    process and every process under it, the children they have reaped
    included, less the time of the JIT compiler threads."""

    def __init__(self) -> None:
        self._compiler: dict[tuple[int, str], int] = {}  # (pid, tid) -> ticks last seen
        self._jvms: set[int] = set()
        self._own = 0.0  # CPU seconds spent reading /proc
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._poll, name="perfbench-cpu", daemon=True)
        self._thread.start()

    def seconds(self) -> float:
        t0 = time.thread_time()
        parent: dict[int, int] = {}
        ticks: dict[int, int] = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(f"/proc/{name}/stat")
                if st is not None:
                    parent[int(name)] = int(st[1][1])
                    ticks[int(name)] = sum(int(x) for x in st[1][11:15])  # utime stime cutime cstime
        me = os.getpid()

        def mine(pid: int) -> bool:
            while pid > 1:
                if pid == me:
                    return True
                pid = parent.get(pid, 0)
            return False

        tree = [pid for pid in ticks if mine(pid)]
        with self._lock:
            self._jvms = set(tree)
        self._sample()
        with self._lock:
            self._own += time.thread_time() - t0
            compiler = sum(self._compiler.values())
            own = self._own
        return (sum(ticks[pid] for pid in tree) - compiler) / CLK_TCK - own

    def close(self) -> None:
        self._stop.set()
        self._thread.join()

    def _sample(self) -> None:
        with self._lock:
            pids = list(self._jvms)
        seen = {}
        for pid in pids:
            try:
                tids = os.listdir(f"/proc/{pid}/task")
            except OSError:
                continue
            for tid in tids:
                st = _stat(f"/proc/{pid}/task/{tid}/stat")
                if st is not None and "CompilerThre" in st[0]:
                    seen[(pid, tid)] = int(st[1][11]) + int(st[1][12])
        with self._lock:
            for key, t in seen.items():
                self._compiler[key] = max(t, self._compiler.get(key, 0))
            # processes without compiler threads need no polling
            self._jvms = {pid for pid, _tid in seen} or self._jvms

    def _poll(self) -> None:
        while not self._stop.wait(POLL_S):
            t0 = time.thread_time()
            self._sample()
            with self._lock:
                self._own += time.thread_time() - t0
