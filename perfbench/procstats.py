"""Process-tree CPU, resident memory and host load, read from /proc.

The process tree is this Python driver, the local-mode JVM it launches and
the ``pyspark.daemon`` Python workers the JVM forks.
"""

from __future__ import annotations

import os
import signal
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _snapshot() -> tuple[dict[int, list[int]], dict[int, tuple[int, bool]]]:
    """(children by parent pid, pid -> (CPU ticks, runs python)).

    CPU ticks count the process and its reaped children, so a worker that
    exits moves its time into its parent instead of out of the tree."""
    children: dict[int, list[int]] = {}
    procs: dict[int, tuple[int, bool]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                s = f.read()
        except OSError:
            continue  # the process exited between listdir and open
        pid = int(name)
        comm = s[s.index("(") + 1 : s.rindex(")")]
        rest = s[s.rindex(")") + 2 :].split()
        children.setdefault(int(rest[1]), []).append(pid)
        cpu = int(rest[11]) + int(rest[12]) + int(rest[13]) + int(rest[14])
        procs[pid] = (cpu, comm.startswith("python"))
    return children, procs


def _tree(children: dict[int, list[int]], root: int) -> list[int]:
    out, stack = [], [root]
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(children.get(p, []))
    return out


def _is_pyspark_daemon(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return b"pyspark.daemon" in f.read()
    except OSError:
        return False


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process tree, reaped children included."""
    children, procs = _snapshot()
    return sum(procs[p][0] for p in _tree(children, os.getpid()) if p in procs) / _TICK


def daemon_cpu_s() -> float:
    """CPU seconds of the live ``pyspark.daemon`` processes in this tree.

    Spark keeps its Python workers alive between tasks (worker reuse), so
    the difference of two readings is the Arrow-kernel time between them.
    """
    children, procs = _snapshot()
    pids = _tree(children, os.getpid())[1:]
    ticks = 0
    for p in pids:
        if p in procs and procs[p][1] and _is_pyspark_daemon(p):
            ticks += procs[p][0]
    return ticks / _TICK


def tree_peak_rss_mb() -> float:
    """Sum of the peak resident sizes (VmHWM) of the live processes in this
    tree: read once at the end, so no sampling thread competes with the
    driver for the interpreter lock."""
    children, _ = _snapshot()
    kb = 0
    for p in _tree(children, os.getpid()):
        try:
            with open(f"/proc/{p}/status") as f:
                kb += next((int(line.split()[1]) for line in f if line.startswith("VmHWM:")), 0)
        except OSError:
            continue  # exited since the snapshot
    return kb / 1024


def host_cpu_s() -> tuple[float, float]:
    """(busy, stolen) CPU seconds of the whole host since boot (/proc/stat).
    Busy excludes idle, iowait and steal; steal is time the hypervisor gave
    this machine's CPUs to another guest."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return (sum(vals[:7]) - vals[3] - vals[4]) / _TICK, vals[7] / _TICK


class HostLoad:
    """Busy and stolen cores outside this process tree over a window: a
    diagnostic that explains a noisy run, never a metric or a gate."""

    def __init__(self) -> None:
        self._t0 = time.perf_counter()
        self._host0 = host_cpu_s()
        self._tree0 = tree_cpu_s()

    def external_cores(self) -> tuple[float, float]:
        wall = max(time.perf_counter() - self._t0, 1e-9)
        busy, steal = host_cpu_s()
        ext = (busy - self._host0[0]) - (tree_cpu_s() - self._tree0)
        return max(0.0, ext) / wall, (steal - self._host0[1]) / wall


def process_age_s() -> float:
    """Seconds since this process started, from /proc (10 ms resolution)."""
    with open("/proc/self/stat") as f:
        s = f.read()
    start_ticks = int(s[s.rindex(")") + 2 :].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / _TICK


def adopt_orphans() -> None:
    """Make this process the child subreaper of its tree (Linux prctl), so a
    Python worker whose JVM has exited is re-parented to this process and
    can be waited for, instead of to init."""
    import ctypes

    pr_set_child_subreaper = 36
    if ctypes.CDLL(None, use_errno=True).prctl(pr_set_child_subreaper, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def end_all(grace_s: float = 20.0) -> list[int]:
    """Wait until no process below this one is left, reaping each as it
    exits; after ``grace_s`` send SIGTERM to the ones still running, five
    seconds later SIGKILL. Needs ``adopt_orphans`` first, so that orphans
    stay in the tree. Returns the pids still there at the end, which should
    be none."""
    t0 = time.monotonic()
    sent = None
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass  # no children left
        children, _ = _snapshot()
        left = _tree(children, os.getpid())[1:]
        if not left:
            return []
        waited = time.monotonic() - t0
        if waited > grace_s + 15:
            return left
        sig = signal.SIGKILL if waited > grace_s + 5 else signal.SIGTERM if waited > grace_s else None
        if sig is not None and sig != sent:
            for p in left:
                try:
                    os.kill(p, sig)
                except OSError:
                    pass
            sent = sig
        time.sleep(0.05)
