"""CPU time and peak resident memory of a process tree, read from /proc.

Linux only. Every reader takes ``proc_root`` so the tests can point it at a
fake tree. Processes may exit while the tree is walked; a vanished pid is
skipped, and the CPU of a child that exited and was reaped is still counted
through its parent's ``cutime``/``cstime``.
"""

from __future__ import annotations

import os
import time

__all__ = ["read_stat", "tree_pids", "tree_cpu_s", "threads_cpu_s",
           "work_cpu_s", "vm_hwm_mb", "find_child", "python_descendants",
           "process_start_time"]

# JVM JIT compiler threads, by their 15-character thread names
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(path: str) -> "tuple[str, list[str]]":
    """comm and the fields after it of a ``stat`` file; ``rest[0]`` is
    field 3 (state), so field k is ``rest[k - 3]``."""
    with open(path) as fh:
        text = fh.read()
    # comm is wrapped in parentheses and may itself contain spaces or ')'
    lp, rp = text.index("("), text.rindex(")")
    return text[lp + 1:rp], text[rp + 2:].split()


def read_stat(pid: int, proc_root: str = "/proc") -> "tuple[str, int, int]":
    """(comm, ppid, cpu ticks) of one process, where cpu ticks is
    utime + stime + cutime + cstime (fields 14-17 of ``/proc/<pid>/stat``)."""
    comm, rest = _stat_fields(os.path.join(proc_root, str(pid), "stat"))
    return comm, int(rest[1]), sum(int(rest[i]) for i in (11, 12, 13, 14))


def _all_stats(proc_root: str) -> "dict[int, tuple[str, int, int]]":
    out = {}
    for name in os.listdir(proc_root):
        if not name.isdigit():
            continue
        try:
            out[int(name)] = read_stat(int(name), proc_root)
        except (FileNotFoundError, ProcessLookupError, ValueError, IndexError):
            continue
    return out


def tree_pids(root: int, proc_root: str = "/proc",
              stats: "dict | None" = None) -> "list[int]":
    """``root`` and all its descendants that are alive now."""
    stats = _all_stats(proc_root) if stats is None else stats
    kids: "dict[int, list[int]]" = {}
    for pid, (_, ppid, _) in stats.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out.append(pid)
        todo.extend(kids.get(pid, ()))
    return sorted(out)


def tree_cpu_s(root: int, proc_root: str = "/proc") -> float:
    """CPU seconds used so far by ``root``'s process tree."""
    stats = _all_stats(proc_root)
    ticks = sum(stats[p][2] for p in tree_pids(root, proc_root, stats))
    return ticks / CLK_TCK


def threads_cpu_s(pid: int, prefixes: "tuple[str, ...]",
                  proc_root: str = "/proc") -> float:
    """CPU seconds (utime + stime) used so far by the live threads of
    ``pid`` whose name starts with one of ``prefixes``."""
    task_dir = os.path.join(proc_root, str(pid), "task")
    ticks = 0
    try:
        tids = os.listdir(task_dir)
    except (FileNotFoundError, ProcessLookupError):
        return 0.0
    for tid in tids:
        try:
            comm, rest = _stat_fields(os.path.join(task_dir, tid, "stat"))
        except (FileNotFoundError, ProcessLookupError):
            continue
        if comm.startswith(prefixes):   # a thread's own utime + stime
            ticks += int(rest[11]) + int(rest[12])
    return ticks / CLK_TCK


def work_cpu_s(root: int, proc_root: str = "/proc") -> float:
    """CPU seconds used so far by ``root``'s process tree, less the JIT
    compiler threads of its JVM (``root``'s first ``java`` descendant).

    The compilers compile the code each Spark call generates: at the
    benchmark's sizes that is 2-6 s of CPU per call, landing in different
    calls from run to run. The JVM must run with
    ``-XX:-UseDynamicNumberOfCompilerThreads``, or an exiting compiler
    thread takes its counters with it."""
    jvm = find_child(root, "java", proc_root)
    jit = threads_cpu_s(jvm, JIT_THREADS, proc_root) if jvm else 0.0
    return tree_cpu_s(root, proc_root) - jit


def vm_hwm_mb(pid: int, proc_root: str = "/proc") -> float:
    """Peak resident set size (``VmHWM``) of one process in MiB; 0.0 when
    the process has gone."""
    try:
        with open(os.path.join(proc_root, str(pid), "status")) as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except (FileNotFoundError, ProcessLookupError):
        pass
    return 0.0


def find_child(root: int, comm: str, proc_root: str = "/proc") -> "int | None":
    """The lowest pid among ``root``'s descendants whose comm is ``comm``."""
    stats = _all_stats(proc_root)
    pids = [p for p in tree_pids(root, proc_root, stats)
            if p != root and stats[p][0] == comm]
    return min(pids) if pids else None


def python_descendants(root: int, proc_root: str = "/proc") -> "list[int]":
    """Descendants of ``root`` running a Python interpreter (the PySpark
    daemon and the workers it forks)."""
    stats = _all_stats(proc_root)
    return [p for p in tree_pids(root, proc_root, stats)
            if p != root and stats[p][0].startswith("python")]


def process_start_time(pid: int = 0, proc_root: str = "/proc") -> float:
    """Wall-clock time (``time.time()`` scale) at which ``pid`` (default:
    this process) started, from field 22 of its stat and the uptime."""
    _, rest = _stat_fields(os.path.join(proc_root, str(pid or os.getpid()),
                                        "stat"))
    start_ticks = int(rest[19])
    with open(os.path.join(proc_root, "uptime")) as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - (uptime - start_ticks / CLK_TCK)
