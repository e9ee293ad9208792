"""Run context and resource probes: CPU steal, a memory-bus probe, peak
RSS of the process tree, and on-disk sizes.

This box shares its CPUs with other tenants. A run that reads slow
explains itself through ``steal_jiffies`` (CPU time the hypervisor gave
to someone else while the run was live) and ``membw_probe`` (64 MB
stream passes per second on one core, before Spark starts).
"""

from __future__ import annotations

import os
import signal
import subprocess
import threading
import time

import numpy as np

_PAGE = os.sysconf("SC_PAGE_SIZE")


def steal_jiffies() -> int:
    """Cumulative steal time of all CPUs, from the ``cpu`` line of
    /proc/stat (the 8th value after the label)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def membw_probe(secs: float = 2.0) -> float:
    """One-thread memory-bus probe: 64 MB ``np.add`` streams per second."""
    x = np.zeros(8_000_000)
    y = np.empty_like(x)
    n = 0
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < secs:
        np.add(x, 1.0, out=y)
        x, y = y, x
        n += 1
    return n / (time.perf_counter() - t0)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                # the command may hold spaces; ppid follows the last ')'
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_rss(root: int) -> dict[str, int]:
    """Resident bytes of `root` and each of its descendants, summed by
    process kind: this process, the JVM, Spark's Python workers, other."""
    kids = _children()
    out = {"driver": 0, "jvm": 0, "python_workers": 0, "other": 0}
    todo = [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                rss = int(f.read().split()[1]) * _PAGE
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
        except (OSError, IndexError, ValueError):
            continue
        if pid == root:
            kind = "driver"
        elif b"java" in cmd.split(b"\0", 1)[0]:
            kind = "jvm"
        elif b"pyspark" in cmd:
            kind = "python_workers"
        else:
            kind = "other"
        out[kind] += rss
    return out


class PeakRss:
    """Samples the summed RSS of this process tree every `period` seconds
    on a daemon thread. ``take()`` returns the largest sample since the
    previous call (so a caller can bracket one op), ``peak`` the largest
    of the run, ``parts`` the split of that peak by process kind."""

    def __init__(self, period: float = 0.1):
        self.period = period
        self.peak = 0
        self.parts: dict[str, int] = {}
        self._window = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            parts = tree_rss(pid)
            total = sum(parts.values())
            with self._lock:
                self._window = max(self._window, total)
                if total > self.peak:
                    self.peak, self.parts = total, parts
            self._stop.wait(self.period)

    def take(self) -> int:
        with self._lock:
            peak, self._window = self._window, 0
        return peak

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def dir_bytes(path: str, skip: tuple[str, ...] = ()) -> int:
    """Bytes of every regular file under `path`, leaving out top-level
    entries named in `skip`."""
    total = 0
    for dirpath, dirnames, filenames in os.walk(path):
        if dirpath == path:
            dirnames[:] = [d for d in dirnames if d not in skip]
            filenames = [f for f in filenames if f not in skip]
        for f in filenames:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def descendants(root: int) -> list[int]:
    kids = _children()
    out, todo = [], list(kids.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def reap(pids: list[int], timeout: float = 30.0) -> None:
    """Wait until every pid has exited; SIGKILL what is left after
    `timeout` seconds."""
    deadline = time.monotonic() + timeout
    alive = list(pids)
    while alive:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")
                 and not _zombie(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = float("inf")
        time.sleep(0.1)


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return False


def run_child(cmd: list[str], timeout: float, cwd: str) -> str:
    """Run `cmd` in its own process group; kill the group on timeout."""
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                            cwd=cwd, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise
    if proc.returncode:
        raise RuntimeError(f"{cmd} exited {proc.returncode}")
    return out
