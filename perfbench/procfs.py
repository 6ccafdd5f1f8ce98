"""Resource sampling from ``/proc`` only (no psutil).

CPU is read per process from ``/proc/<pid>/stat`` as
utime+stime+cutime+cstime, so a worker that exits and is reaped by a
parent inside the tree keeps counting through the parent's child
fields. The tree is split into the JVM (the ``java`` descendant of the
benchmark process, with the commands it forks) and the Python workers
(the ``python*`` processes below the JVM).
"""

from __future__ import annotations

import os
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")
PROC = "/proc"


def read_stat(pid: int, proc: str = PROC) -> tuple[str, int, int, int] | None:
    """(comm, ppid, own ticks, reaped-children ticks), or None if gone."""
    try:
        with open(f"{proc}/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces and parentheses: split at the LAST ')'
    lpar, rpar = raw.index("("), raw.rindex(")")
    comm = raw[lpar + 1 : rpar]
    fields = raw[rpar + 2 :].split()
    # fields[0] is state (stat field 3); utime..cstime are fields 14..17
    ppid = int(fields[1])
    own = int(fields[11]) + int(fields[12])
    reaped = int(fields[13]) + int(fields[14])
    return comm, ppid, own, reaped


def snapshot(proc: str = PROC) -> dict[int, tuple[str, int, int, int]]:
    """pid -> read_stat(pid) for every live process."""
    out = {}
    for name in os.listdir(proc):
        if name.isdigit():
            st = read_stat(int(name), proc)
            if st is not None:
                out[int(name)] = st
    return out


def descendants(root: int, snap: dict) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, (_, ppid, _, _) in snap.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        for child in kids.get(todo.pop(), ()):
            out.append(child)
            todo.append(child)
    return out


def find_jvm(root: int, snap: dict) -> int | None:
    for pid in descendants(root, snap):
        if snap[pid][0] == "java":
            return pid
    return None


def tree_cpu(jvm: int, proc: str = PROC) -> dict[str, float]:
    """CPU-seconds so far of the JVM and of its Python workers. The JVM
    side also holds the short-lived commands the JVM forks (Hadoop's
    local file system shells out), which /proc shows only once they are
    reaped into the JVM's child fields."""
    snap = snapshot(proc)
    if jvm not in snap:
        return {"jvm": 0.0, "python": 0.0}
    _, _, own, reaped = snap[jvm]
    jvm_ticks, py_ticks = own + reaped, 0
    for pid in descendants(jvm, snap):
        comm, _, p_own, p_reaped = snap[pid]
        if comm.startswith("python"):
            py_ticks += p_own + p_reaped
        else:
            jvm_ticks += p_own + p_reaped
    return {"jvm": jvm_ticks / CLK_TCK, "python": py_ticks / CLK_TCK}


def thread_ticks(pid: int, proc: str = PROC) -> dict[int, tuple[str, int]]:
    """tid -> (kind, CPU ticks so far) for a process's live threads. The
    kinds are JIT compiler, GC, Spark task threads and the rest."""
    out = {}
    try:
        tids = os.listdir(f"{proc}/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        st = read_stat(int(tid), f"{proc}/{pid}/task")
        if st is None:
            continue
        comm = st[0]
        if "CompilerThre" in comm:
            kind = "jit"
        elif comm.startswith(("GC Thread", "G1 ")):
            kind = "gc"
        elif comm.startswith("Executor task"):
            kind = "task"
        else:
            kind = "other"
        out[int(tid)] = (kind, st[2])
    return out


def thread_cpu_delta(before: dict, after: dict) -> dict[str, float]:
    """CPU-seconds per thread kind between two ``thread_ticks`` calls.
    Threads that exited in between are missed; the JVM retires idle
    compiler threads, so the JIT figure is a lower bound."""
    out = {"jit": 0.0, "gc": 0.0, "task": 0.0, "other": 0.0}
    for tid, (kind, ticks) in after.items():
        out[kind] += (ticks - before.get(tid, (kind, 0))[1]) / CLK_TCK
    return out


def status_kb(pid: int, key: str, proc: str = PROC) -> int:
    """A ``kB`` field of /proc/<pid>/status (e.g. VmHWM), 0 if absent."""
    try:
        with open(f"{proc}/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def host_record(proc: str = PROC) -> dict:
    mem_kb = 0
    with open(f"{proc}/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    with open(f"{proc}/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": round(mem_kb / 1024, 1),
        "loadavg": load,
        "time": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }


def steal_s(proc: str = PROC) -> float:
    """Seconds of CPU time the hypervisor gave to other guests, summed
    over this host's CPUs (the ``steal`` column of ``/proc/stat``)."""
    with open(f"{proc}/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / CLK_TCK if fields[0] == "cpu" and len(fields) > 8 else 0.0


def wait_gone(pids, timeout_s: float = 20.0) -> list[int]:
    """Wait until every pid has exited; SIGKILL stragglers. Returns the
    pids that had to be killed."""
    deadline = time.monotonic() + timeout_s
    alive = [p for p in pids if _alive(p)]
    while alive and time.monotonic() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if _alive(p)]
    for p in alive:
        try:
            os.kill(p, 9)
        except OSError:
            pass
    while any(_alive(p) for p in alive):
        time.sleep(0.05)
    return alive


def _alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"{PROC}/{pid}/stat") as f:
            state = f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return False
    return state != "Z"
