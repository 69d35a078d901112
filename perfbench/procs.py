"""Run one benchmark process and sample the summed RSS of its process tree
(driver JVM + Python driver + Python workers) from ``/proc``."""

from __future__ import annotations

import collections
import ctypes
import os
import platform
import signal
import subprocess
import threading
import time
from dataclasses import dataclass

_PAGE = os.sysconf("SC_PAGE_SIZE")
SAMPLE_EVERY_S = 0.2


def _scan() -> dict[int, tuple[int, str, int]]:
    """pid -> (ppid, command, resident pages) for every process, from
    ``/proc/<pid>/stat``."""
    procs = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command (field 2) may hold spaces; the fields after it don't
        comm = stat[stat.index("(") + 1 : stat.rfind(")")]
        fields = stat[stat.rfind(")") + 2 :].split()
        procs[int(name)] = (int(fields[1]), comm, int(fields[21]))
    return procs


def _resident_pages(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1])
    except OSError:  # ended since the scan
        return 0


_KCMP = {"x86_64": 312, "aarch64": 272}.get(platform.machine())
_KCMP_VM = 1
_libc = ctypes.CDLL(None, use_errno=True)
_libc.syscall.restype = ctypes.c_long
_libc.syscall.argtypes = [ctypes.c_long] * 6


def shares_memory(pid_a: int, pid_b: int) -> bool:
    """True when both processes use one address space, as a vfork child
    does with its parent until it execs (kcmp(2)); False where kcmp is
    unknown or refused."""
    if _KCMP is None:
        return False
    return _libc.syscall(_KCMP, pid_a, pid_b, _KCMP_VM, 0, 0) == 0


def tree_rss_bytes(root: int) -> collections.Counter:
    """Resident bytes of the process tree under ``root``, by command name.

    A child that shares its parent's address space is not counted again:
    the JVM starts ``chmod`` and helper processes through vfork, and each
    one caught before its exec reported the JVM's whole resident set (the
    sum read 2.0 to 6.3 GB for runs of one job)."""
    procs = _scan()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _comm, _rss) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    total = collections.Counter()
    todo = [root] if root in procs else []
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        ppid, comm, rss = procs[pid]
        if pid != root:
            if shares_memory(ppid, pid):
                continue
            # read again after the check: a vfork child that has exec'd
            # since the scan reported its parent's resident set then
            rss = _resident_pages(pid)
        total[comm] += rss * _PAGE
    return total


def cpu_times() -> list[int]:
    """Host CPU time counters (user nice system idle iowait irq softirq
    steal ...), in ticks, from ``/proc/stat``."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of the host's CPU time stolen by the hypervisor in between."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if len(d) > 7 and sum(d) else 0.0


def process_age_s() -> float:
    """Seconds since this process started."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


@dataclass
class ProcResult:
    returncode: int
    stdout: str
    stderr: str
    wall_s: float
    peak_rss_mb: float
    peak_rss_mb_by_command: dict  # each command's own peak, for diagnosis
    steal_share: float  # host CPU time stolen during the run, for diagnosis
    timed_out: bool


def run_sampled(cmd: list[str], env: dict, cwd: str, timeout_s: float) -> ProcResult:
    """Run ``cmd`` to completion in a session of its own, sampling the
    tree's RSS every 200 ms.  On a timeout the whole session is killed.
    Every process of the session has ended when this returns."""
    peak = [0]
    peak_by = collections.Counter()
    done = threading.Event()
    cpu0 = cpu_times()
    t0 = time.perf_counter()
    proc = subprocess.Popen(
        cmd,
        cwd=cwd,
        env=env,
        stdout=subprocess.PIPE,
        stderr=subprocess.PIPE,
        text=True,
        start_new_session=True,
    )

    def sample():
        while not done.is_set():
            by = tree_rss_bytes(proc.pid)
            peak[0] = max(peak[0], sum(by.values()))
            for k, v in by.items():
                peak_by[k] = max(peak_by[k], v)
            done.wait(SAMPLE_EVERY_S)

    sampler = threading.Thread(target=sample, daemon=True)
    sampler.start()
    timed_out = False
    try:
        out, err = proc.communicate(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        timed_out = True
        _kill(_session_members(proc.pid), signal.SIGKILL)
        out, err = proc.communicate()
    wall = time.perf_counter() - t0
    steal = steal_share(cpu0, cpu_times())
    done.set()
    sampler.join()
    reap(lambda: _session_members(proc.pid))
    return ProcResult(
        proc.returncode, out, err, wall, peak[0] / 2**20,
        {k: v / 2**20 for k, v in peak_by.items()}, steal, timed_out,
    )  # fmt: skip


# --- process hygiene ----------------------------------------------------------
#
# pyspark's worker daemon moves itself into a process group of its own and
# outlives its JVM for a moment, so a finished job's process group can be
# empty while its Python workers still run.  The benchmark therefore makes
# itself the reaper of its orphaned descendants (they are re-parented to it
# instead of to init), waits for a job's whole session, and before it exits
# stops every descendant it still has.

PR_SET_CHILD_SUBREAPER = 36
_libc.prctl.argtypes = [ctypes.c_int, ctypes.c_ulong, ctypes.c_ulong, ctypes.c_ulong,
                        ctypes.c_ulong]  # fmt: skip


def adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants."""
    _libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _stats() -> dict[int, tuple[str, int, int]]:
    """pid -> (state, ppid, session id) for every process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2 :].split()
        out[int(name)] = (fields[0], int(fields[1]), int(fields[3]))
    return out


def _session_members(sid: int) -> tuple[list[int], list[int]]:
    """(live pids, zombie children of this process) of session ``sid``."""
    me = os.getpid()
    live, zombies = [], []
    for pid, (state, ppid, s) in _stats().items():
        if s != sid or pid == me:
            continue
        if state != "Z":
            live.append(pid)
        elif ppid == me:
            zombies.append(pid)
    return live, zombies


def _descendants() -> tuple[list[int], list[int]]:
    """(live pids, zombie children) of every descendant of this process."""
    procs = _stats()
    kids: dict[int, list[int]] = {}
    for pid, (_state, ppid, _sid) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    me = os.getpid()
    live, zombies, todo = [], [], list(kids.get(me, ()))
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        if procs[pid][0] != "Z":
            live.append(pid)
        elif procs[pid][1] == me:
            zombies.append(pid)
    return live, zombies


def _kill(members: tuple[list[int], list[int]], sig: int) -> None:
    for pid in members[0]:
        try:
            os.kill(pid, sig)
        except ProcessLookupError:
            pass


def _wait_zombies(pids: list[int]) -> None:
    for pid in pids:
        try:
            os.waitpid(pid, os.WNOHANG)
        except ChildProcessError:  # reaped by its Popen
            pass


def reap(members, grace_s: float = 10.0, first_signal: int | None = None) -> bool:
    """Wait until every process ``members()`` lists has ended, reaping the
    zombies left to this process; send ``first_signal`` (if any) at once,
    and SIGKILL after ``grace_s``.  Returns whether all ended."""
    if first_signal is not None:
        _kill(members(), first_signal)
    deadline = time.monotonic() + grace_s
    killed = False
    while True:
        live, zombies = members()
        _wait_zombies(zombies)
        if not live:
            return True
        if time.monotonic() > deadline:
            if killed:
                return False
            _kill((live, zombies), signal.SIGKILL)
            killed = True
            deadline = time.monotonic() + grace_s
        time.sleep(0.05)


def stop_descendants(grace_s: float = 10.0) -> bool:
    """Stop every process this one started, and its children: SIGTERM,
    then SIGKILL after ``grace_s``.  Returns whether all ended."""
    return reap(_descendants, grace_s, signal.SIGTERM)
