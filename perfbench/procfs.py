"""CPU and memory of a process tree, and the machine's stolen CPU time,
read from ``/proc``.

A tree is a root pid and every live descendant. Its CPU time counts
each member's own user+system time plus the time of children it has
already reaped, so CPU of exited workers is not lost.
"""

from __future__ import annotations

import os

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")


def parse_stat(text: str) -> dict:
    """Fields of one ``/proc/<pid>/stat`` line that the benchmark uses."""
    # comm may hold spaces and parentheses; it ends at the last ')'
    rest = text[text.rindex(")") + 2 :].split()
    return {
        "state": rest[0],
        "ppid": int(rest[1]),
        "pgid": int(rest[2]),
        "cpu_ticks": sum(int(x) for x in rest[11:15]),  # utime stime cutime cstime
        "rss_bytes": int(rest[21]) * PAGE,
    }


def snapshot(proc: str = "/proc") -> dict[int, dict]:
    """pid -> parsed stat for every readable process."""
    out = {}
    for name in os.listdir(proc):
        if not name.isdigit():
            continue
        try:
            with open(f"{proc}/{name}/stat") as f:
                out[int(name)] = parse_stat(f.read())
        except (OSError, ValueError, IndexError):
            continue  # exited while listing
    return out


def descendants(root: int, snap: dict[int, dict]) -> set[int]:
    """``root`` and every process below it in ``snap``."""
    children: dict[int, list[int]] = {}
    for pid, st in snap.items():
        children.setdefault(st["ppid"], []).append(pid)
    tree, todo = set(), [root]
    while todo:
        pid = todo.pop()
        if pid in tree or pid not in snap:
            continue
        tree.add(pid)
        todo.extend(children.get(pid, ()))
    return tree


def status_kb(pid: int, field: str, proc: str = "/proc") -> int | None:
    """One ``kB`` field of ``/proc/<pid>/status``, such as VmHWM."""
    try:
        with open(f"{proc}/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except (OSError, ValueError):
        pass
    return None


def pss_kb(pid: int, proc: str = "/proc") -> int | None:
    """Proportional set size: pages a forked worker shares with its
    parent are split between them instead of counted in full by each."""
    try:
        with open(f"{proc}/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except (OSError, ValueError):
        pass
    return None


def cmdline(pid: int, proc: str = "/proc") -> str:
    try:
        with open(f"{proc}/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def is_python_worker(cmd: str) -> bool:
    """PySpark's Python daemon and the workers it forks."""
    return "pyspark.daemon" in cmd or "pyspark/daemon.py" in cmd


def tree_usage(root: int, proc: str = "/proc") -> dict:
    """CPU seconds of the tree under ``root``, with the share of PySpark
    Python workers split out."""
    snap = snapshot(proc)
    tree = descendants(root, snap)
    cpu = py_cpu = 0.0
    for pid in tree:
        st = snap[pid]
        cpu += st["cpu_ticks"]
        if is_python_worker(cmdline(pid, proc)):
            py_cpu += st["cpu_ticks"]
    return {
        "cpu_s": cpu / CLK_TCK,
        "python_cpu_s": py_cpu / CLK_TCK,
        "n_procs": len(tree),
    }


def peak_memory_mb(root: int, proc: str = "/proc") -> dict[str, float]:
    """Peak memory of the tree under ``root`` by part, read once, without
    sampling: the kernel's high-water mark (VmHWM) of the root process
    (``driver``) and of every other process except PySpark's Python
    workers (``jvm``: the JVM and its launcher), and the current PSS of
    the forked Python workers (``workers``), so that pages they share
    with the daemon are not counted per worker. ``total`` is their sum."""
    snap = snapshot(proc)
    kb = {"driver": 0, "jvm": 0, "workers": 0}
    for pid in descendants(root, snap):
        worker = is_python_worker(cmdline(pid, proc))
        part = "driver" if pid == root else "workers" if worker else "jvm"
        got = pss_kb(pid, proc) if worker else status_kb(pid, "VmHWM", proc)
        kb[part] += snap[pid]["rss_bytes"] // 1024 if got is None else got
    out = {k: v / 1024 for k, v in kb.items()}
    out["total"] = sum(out.values())
    return out


def group_alive(pgid: int, proc: str = "/proc") -> list[int]:
    """Live (non-zombie) members of a process group."""
    return [
        pid
        for pid, st in snapshot(proc).items()
        if st["pgid"] == pgid and st["state"] != "Z"
    ]


def reset_peak(root: int, proc: str = "/proc") -> None:
    """Reset the high-water mark (VmHWM) of ``root`` and of every process
    below it to its current RSS, so that a later read covers only what
    follows."""
    for pid in descendants(root, snapshot(proc)):
        try:
            with open(f"{proc}/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass  # exited, or not ours


def cpu_ticks(proc: str = "/proc") -> tuple[int, int]:
    """Busy and stolen ticks of all CPUs together, from the aggregate
    ``cpu`` line of /proc/stat. Busy is user, nice, system, irq and
    softirq time; stolen is time a runnable virtual CPU waited for the
    hypervisor, which the machine's other tenants had."""
    with open(f"{proc}/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = fields + [0] * (8 - len(fields))
    return user + nice + system + irq + softirq, steal


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """The share of the CPU time wanted between two ``cpu_ticks`` reads
    that the hypervisor took: a CPU-bound stretch of wall time ``w``
    would have taken ``w * (1 - share)`` on CPUs of its own."""
    busy, steal = after[0] - before[0], after[1] - before[1]
    return steal / (busy + steal) if busy + steal > 0 else 0.0
