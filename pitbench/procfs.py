"""Process figures read from ``/proc``: the process tree below a pid, its
CPU time and each process's peak resident memory (VmHWM)."""

from __future__ import annotations

import os


def _stat(pid) -> list[str]:
    """Fields of /proc/<pid>/stat after the command name; [] if gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return []


def alive(pid: int) -> bool:
    state = _stat(pid)
    return bool(state) and state[0] != "Z"


def process_tree(root: int) -> list[int]:
    """``root`` and every process below it."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        fields = _stat(entry) if entry.isdigit() else []
        if len(fields) > 1:
            children.setdefault(int(fields[1]), []).append(int(entry))
    pids, todo = [], [root]
    while todo:
        pid = todo.pop()
        pids.append(pid)
        todo.extend(children.get(pid, []))
    return pids


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


# Thread names (as /proc truncates them) of HotSpot's JIT compilers
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def thread_ticks() -> dict[tuple[int, int], int]:
    """User + system clock ticks of every thread of this process and the
    processes below it, by (pid, tid), without the JVM's JIT compiler
    threads."""
    ticks = {}
    for pid in process_tree(os.getpid()):
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            name, rest = stat[stat.index("(") + 1 :].rsplit(")", 1)
            if not name.startswith(JIT_THREADS):
                fields = rest.split()
                ticks[(pid, int(tid))] = int(fields[11]) + int(fields[12])
    return ticks


def cpu_s(before: dict[tuple[int, int], int], after: dict[tuple[int, int], int]) -> float:
    """CPU seconds used between two ``thread_ticks`` snapshots by the
    threads alive at ``after``; time the hypervisor stole from the guest
    is not in it."""
    used = sum(t - before.get(k, 0) for k, t in after.items())
    return used / os.sysconf("SC_CLK_TCK")


def rss_peaks_mb(jvm_pid: int) -> list[float]:
    """VmHWM of the gateway JVM and of each of its descendants (Python
    workers), in MB, JVM first."""
    return [_vm_hwm_kb(p) / 1024.0 for p in process_tree(jvm_pid)]
