"""CPU time and resident memory of a process tree, read from ``/proc``.

The benchmark process, the Spark JVM it launches and the JVM's Python
workers form one tree. ``psutil`` is not a dependency, so the figures
come straight from ``/proc/<pid>/stat``:

- CPU: ``utime + stime + cutime + cstime`` of every live process in
  the tree. A child that has exited and been reaped is counted in its
  parent's ``cutime``/``cstime`` and is no longer in the tree, so no
  time is counted twice and none is lost when workers come and go.
- memory: the sum of ``rss`` over the tree, sampled by a background
  thread; the peak of the sum is kept, overall and per role.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _read_stat(pid: int) -> tuple[str, int, list[str]] | None:
    """(comm, ppid, fields after comm) of ``pid``, or None if it is gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            raw = fh.read().decode("ascii", "replace")
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        return None
    lpar, rpar = raw.index("("), raw.rindex(")")
    rest = raw[rpar + 2 :].split()
    return raw[lpar + 1 : rpar], int(rest[1]), rest


def tree(root: int) -> dict[int, tuple[str, int, list[str]]]:
    """Every live process under ``root`` (included), by pid."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _read_stat(int(name))
            if st is not None:
                stats[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, (_, ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats and pid not in out:
            out[pid] = stats[pid]
            todo.extend(children.get(pid, ()))
    return out


def _roles(procs: dict[int, tuple[str, int, list[str]]], root: int) -> dict[int, str]:
    """Role of each process: the root is the driver, ``java`` is the
    JVM, anything below the JVM is a Python worker."""
    out: dict[int, str] = {}

    def walk(pid: int) -> str:
        if pid in out:
            return out[pid]
        comm, ppid, _ = procs[pid]
        if pid == root:
            r = "driver"
        elif comm == "java":
            r = "jvm"
        elif ppid in procs and walk(ppid) in ("jvm", "py_worker"):
            r = "py_worker"
        else:
            r = "driver"
        out[pid] = r
        return r

    for pid in procs:
        walk(pid)
    return out


def cpu_seconds(root: int) -> dict[str, float]:
    """CPU seconds used so far by the tree under ``root``, in total and
    per role ('driver', 'jvm', 'py_worker')."""
    procs = tree(root)
    roles = _roles(procs, root)
    out = {"total": 0.0, "driver": 0.0, "jvm": 0.0, "py_worker": 0.0}
    for pid, (_, _, rest) in procs.items():
        # fields 14-17 of stat (1-based) = rest[11:15]
        ticks = sum(int(x) for x in rest[11:15])
        out[roles[pid]] += ticks / _TICK
        out["total"] += ticks / _TICK
    return out


def rss_mb(root: int) -> dict[str, float]:
    """Resident memory of the tree under ``root`` in MiB, in total and per role."""
    procs = tree(root)
    roles = _roles(procs, root)
    out = {"total": 0.0, "driver": 0.0, "jvm": 0.0, "py_worker": 0.0}
    for pid, (_, _, rest) in procs.items():
        mb = int(rest[21]) * _PAGE / 2**20  # field 24 of stat: rss in pages
        out[roles[pid]] += mb
        out["total"] += mb
    return out


class RssSampler:
    """Samples :func:`rss_mb` every ``interval_s`` on a daemon thread and
    keeps the peak of each figure. Use as a context manager."""

    def __init__(self, root: int, interval_s: float = 0.2) -> None:
        self.root = root
        self.interval_s = interval_s
        self.peak = {"total": 0.0, "driver": 0.0, "jvm": 0.0, "py_worker": 0.0}
        self.samples = 0
        self.cpu_s = 0.0  # CPU time spent taking the samples
        self.series: list[tuple[float, float, float, float]] = []  # (t, total, jvm, py_worker)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def sample(self) -> None:
        t0 = time.thread_time()
        now = rss_mb(self.root)
        for k, v in now.items():
            self.peak[k] = max(self.peak[k], v)
        self.samples += 1
        self.series.append((time.monotonic(), now["total"], now["jvm"], now["py_worker"]))
        self.cpu_s += time.thread_time() - t0

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def __enter__(self) -> RssSampler:
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()


def wait_gone(pids, timeout_s: float) -> list[int]:
    """Wait until none of ``pids`` is alive; return those still alive
    after ``timeout_s``."""
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive:
        alive = [p for p in alive if _alive(p)]
        if not alive or time.monotonic() > deadline:
            break
        time.sleep(0.05)
    return alive


def _alive(pid: int) -> bool:
    st = _read_stat(pid)
    # a zombie has exited; its parent reaps it
    return st is not None and st[2][0] != "Z"
