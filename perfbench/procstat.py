"""CPU and memory of the benchmark's process tree, read from ``/proc``.

The benchmark process, the Spark JVM it launches and the pyspark Python
workers the JVM forks form one tree. Summing ``utime + stime`` plus the
already-reaped children's ``cutime + cstime`` over every live process of
that tree counts all the CPU the run has spent, whichever process spent it.
"""

from __future__ import annotations

import os

_CLK = os.sysconf("SC_CLK_TCK")


def _stat_fields(path: str) -> list[str] | None:
    try:
        with open(path) as f:
            # the command name may hold spaces; fields restart after ')'
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def _comm(path: str) -> str:
    try:
        with open(path) as f:
            return f.read().strip()
    except OSError:
        return ""


def descendants(root: int | None = None) -> list[int]:
    """Pids of every live process below ``root`` (default: this process)."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(f"/proc/{name}/stat")
        if f is None:
            continue
        children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def process_cpu_s(pid: int) -> float:
    """utime + stime + reaped children's cutime + cstime of one process."""
    f = _stat_fields(f"/proc/{pid}/stat")
    if f is None:
        return 0.0
    return (int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])) / _CLK


def tree_cpu_s() -> float:
    """CPU seconds spent so far by this process and all its descendants."""
    return sum(process_cpu_s(p) for p in [os.getpid(), *descendants()])


def jvm_pid() -> int | None:
    for p in descendants():
        if _comm(f"/proc/{p}/comm") == "java":
            return p
    return None


def pyworker_cpu_s(jvm: int | None) -> float:
    """CPU of the pyspark worker processes (the JVM's Python descendants)."""
    if jvm is None:
        return 0.0
    return sum(
        process_cpu_s(p)
        for p in descendants(jvm)
        if _comm(f"/proc/{p}/comm").startswith("python")
    )


def _thread_group(comm: str) -> str:
    if comm.startswith("Executor task"):
        return "task"
    if comm.startswith(("C1 Compiler", "C2 Compiler")):
        return "jit"
    if comm.startswith(("GC Thread", "G1 ", "VM Thread")):
        return "gc"
    return "other"


def jvm_thread_cpu(jvm: int | None) -> dict[int, tuple[str, float]]:
    """tid -> (thread group, CPU seconds) for every live JVM thread."""
    out: dict[int, tuple[str, float]] = {}
    if jvm is None:
        return out
    try:
        tids = os.listdir(f"/proc/{jvm}/task")
    except OSError:
        return out
    for tid in tids:
        f = _stat_fields(f"/proc/{jvm}/task/{tid}/stat")
        if f is None:
            continue
        group = _thread_group(_comm(f"/proc/{jvm}/task/{tid}/comm"))
        out[int(tid)] = (group, (int(f[11]) + int(f[12])) / _CLK)
    return out


def thread_group_delta(
    before: dict[int, tuple[str, float]], after: dict[int, tuple[str, float]]
) -> dict[str, float]:
    """CPU seconds per thread group spent between two ``jvm_thread_cpu``
    samples (threads born in between count from zero)."""
    out = {"task": 0.0, "jit": 0.0, "gc": 0.0, "other": 0.0}
    for tid, (group, cpu) in after.items():
        out[group] += cpu - before.get(tid, (group, 0.0))[1]
    return out


def peak_rss_mb(pid: int | None) -> float:
    """High-water resident set size (VmHWM) of one process, in MiB."""
    if pid is None:
        return 0.0
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0
