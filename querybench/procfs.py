"""Linux ``/proc`` readers: process CPU time, peak resident memory and
the process tree under the Spark JVM (where the Python workers live)."""

from __future__ import annotations

import os

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int, proc: str = "/proc") -> list[str]:
    """Fields of ``/proc/<pid>/stat`` after the ``(comm)`` field, which
    may itself contain spaces and parentheses."""
    with open(f"{proc}/{pid}/stat") as f:
        text = f.read()
    return text[text.rindex(")") + 2:].split()


def cpu_times(pid: int, proc: str = "/proc") -> tuple[float, float]:
    """``(own, reaped)`` CPU seconds of ``pid``: its user plus system
    time, and that of its exited children it has waited for."""
    fields = _stat_fields(pid, proc)
    # after comm: state(0) ppid(1) ... utime(11) stime(12) cutime(13) cstime(14)
    own = int(fields[11]) + int(fields[12])
    reaped = int(fields[13]) + int(fields[14])
    return own / _CLK_TCK, reaped / _CLK_TCK


def vm_hwm_mb(pid: int, proc: str = "/proc") -> float:
    """Peak resident set size (``VmHWM``) of ``pid`` in MiB."""
    with open(f"{proc}/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise ValueError(f"no VmHWM line for pid {pid}")


def descendants(root: int, proc: str = "/proc") -> list[int]:
    """Live descendants of ``root`` (not including it)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir(proc):
        if not name.isdigit():
            continue
        try:
            ppid = int(_stat_fields(int(name), proc)[1])
        except (OSError, ValueError, IndexError):
            continue  # exited while we listed, or not a process entry
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        for child in children.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def comm(pid: int, proc: str = "/proc") -> str:
    with open(f"{proc}/{pid}/comm") as f:
        return f.read().strip()


def python_workers(jvm_pid: int, proc: str = "/proc") -> list[int]:
    """The JVM's Python descendants: the PySpark daemon and its workers."""
    out = []
    for pid in descendants(jvm_pid, proc):
        try:
            if comm(pid, proc).startswith("python"):
                out.append(pid)
        except OSError:
            continue
    return out


def worker_usage(jvm_pid: int, proc: str = "/proc") -> tuple[float, float]:
    """``(cpu_s, peak_rss_mb)`` of the JVM's Python workers.

    CPU counts live workers plus the exited ones their parents reaped
    (the daemon reaps its forked workers), plus the children the JVM
    itself reaped.  Peak RSS is the largest single worker's VmHWM.
    """
    cpu = cpu_times(jvm_pid, proc)[1]
    peak = 0.0
    for pid in python_workers(jvm_pid, proc):
        try:
            cpu += sum(cpu_times(pid, proc))
            peak = max(peak, vm_hwm_mb(pid, proc))
        except OSError:
            continue  # exited between listing and reading
    return cpu, peak


def host_cpu_ticks(proc: str = "/proc") -> tuple[int, int]:
    """``(steal, total)`` clock ticks of the whole host since boot; the
    steal share over an interval says how much CPU a hypervisor gave to
    other guests while the benchmark ran."""
    with open(f"{proc}/stat") as f:
        ticks = [int(v) for v in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)
