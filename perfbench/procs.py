"""Process-tree accounting and host-phase probes, read from ``/proc``.

Spark work in one run is spread over the Python driver, its JVM, the
PySpark daemon and the Python workers the daemon forks. CPU and memory
are therefore summed over the whole tree below a root pid. A process
that exited and was reaped by a parent inside the tree has its CPU in
that parent's ``cutime``/``cstime``, so summing
``utime+stime+cutime+cstime`` over the live tree counts every process
once.
"""

from __future__ import annotations

import os
import signal
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name is in parentheses and may contain spaces
    return raw[raw.rindex(")") + 2 :].split()


def _all_stats() -> dict[int, list[str]]:
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None:
                out[int(name)] = f
    return out


def tree_pids(root: int) -> list[int]:
    stats = _all_stats()
    children: dict[int, list[int]] = {}
    for pid, f in stats.items():
        children.setdefault(int(f[1]), []).append(pid)  # f[1] = ppid
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out.append(pid)
            todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds of ``root`` and every live descendant, including the
    reaped children each of them accounts for."""
    total = 0
    for pid in tree_pids(root):
        f = _stat_fields(pid)
        if f is not None:
            # utime, stime, cutime, cstime are fields 14-17 of stat
            total += sum(int(x) for x in f[11:15])
    return total / _TICK


def tree_rss_mb(root: int) -> float:
    """Sum over the live tree of each process's peak resident set
    (``VmHWM`` in ``/proc/<pid>/status``)."""
    kb = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return kb / 1024.0


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of ``/proc/stat`` (jiffies)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of all CPU time between two ``cpu_times`` samples that the
    hypervisor gave to other guests (field 8, ``steal``)."""
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta[:8])  # guest time is already inside user/nice
    return delta[7] / total if total else 0.0


def calibration_s() -> float:
    """A fixed single-thread integer loop: its time tracks how fast this
    host runs one core right now. Used for attribution only."""
    t = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x = (x * 1103515245 + i) & 0xFFFFFFFF
    return time.perf_counter() - t


def session_pids(sid: int) -> list[int]:
    """Live processes of session ``sid`` (zombies have already exited)."""
    return [pid for pid, f in _all_stats().items()
            if int(f[3]) == sid and f[0] != "Z"]  # f[0] = state, f[3] = session


def reap_session(sid: int, timeout: float = 20.0) -> None:
    """Kill every process left in session ``sid`` and wait until none
    remains. A worker is started in its own session, so this reaches
    its JVM and Python workers even after they were re-parented."""
    start = time.monotonic()
    while True:
        pids = session_pids(sid)
        if not pids:
            return
        waited = time.monotonic() - start
        if waited > timeout:
            raise RuntimeError(f"processes {pids} did not exit")
        sig = signal.SIGTERM if waited < timeout / 4 else signal.SIGKILL
        for pid in pids:
            try:
                os.kill(pid, sig)
            except OSError:
                pass
        time.sleep(0.1)
