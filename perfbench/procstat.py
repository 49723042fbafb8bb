"""CPU, memory and storage writes of this process and every process
under it (the Spark JVM and its Python workers), read from /proc."""

from __future__ import annotations

import os
from dataclasses import dataclass

_TICK = os.sysconf("SC_CLK_TCK")


@dataclass
class Usage:
    """Totals over the live process tree; a dead child's CPU and I/O
    are folded into the parent that reaped it, so sums over the live
    tree stay monotonic."""

    cpu_s: dict  # kind -> seconds ("python_driver", "jvm", "python_worker")
    write_bytes: int
    hwm_bytes: int


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its descendants."""
    root = root or os.getpid()
    kids, out, todo = _children(), [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _kind(pid: int) -> str:
    if pid == os.getpid():
        return "python_driver"
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            argv0 = f.read().split(b"\0", 1)[0]
    except OSError:
        return "python_worker"
    return "jvm" if os.path.basename(argv0) == b"java" else "python_worker"


def usage() -> Usage:
    cpu: dict[str, float] = {"python_driver": 0.0, "jvm": 0.0, "python_worker": 0.0}
    written = hwm = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            with open(f"/proc/{pid}/io") as f:
                io = dict(line.split(": ") for line in f.read().splitlines())
            with open(f"/proc/{pid}/status") as f:
                status = dict(line.split(":", 1) for line in f.read().splitlines() if ":" in line)
        except OSError:
            continue  # exited between the listing and the read
        # utime, stime, cutime, cstime
        cpu[_kind(pid)] += sum(int(x) for x in fields[11:15]) / _TICK
        written += int(io["write_bytes"])
        hwm += int(status.get("VmHWM", "0 kB").split()[0]) * 1024
    return Usage(cpu, written, hwm)


def jvm_thread_cpu() -> dict[str, float]:
    """CPU seconds of the JVM's live threads by role: the JIT
    compilers, the garbage collector, and all other threads."""
    out = {"jit": 0.0, "gc": 0.0, "other": 0.0}
    for pid in tree_pids():
        if _kind(pid) != "jvm":
            continue
        for tid in os.listdir(f"/proc/{pid}/task"):
            try:
                with open(f"/proc/{pid}/task/{tid}/stat") as f:
                    raw = f.read()
            except OSError:
                continue
            name = raw[raw.index("(") + 1 : raw.rindex(")")]
            fields = raw.rsplit(")", 1)[1].split()
            cpu = (int(fields[11]) + int(fields[12])) / _TICK
            if "Compiler" in name:
                out["jit"] += cpu
            elif name.startswith(("GC ", "G1 ")) or "GC" in name.split()[0]:
                out["gc"] += cpu
            else:
                out["other"] += cpu
    return out


def steal_s() -> float:
    """CPU seconds the hypervisor gave to other guests, summed over all
    of the machine's CPUs, since boot (``steal`` in /proc/stat)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK
