"""Host and process-tree readings from /proc (Linux)."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")

#: A pass is tainted when steal or iowait take more than this share of
#: all CPU ticks during it. The flag is reported; no pass is ever dropped.
TAINT_FRAC = 0.10


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process exited between listing and reading
        return None
    # comm (field 2) may contain spaces; everything after the last ')' is fixed.
    return raw[raw.rindex(")") + 2 :].split()


def process_tree(root: int | None = None) -> list[int]:
    """``root`` and all its live descendants."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        fields = _stat_fields(int(entry))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(entry))
    tree, todo = [], [root]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, ()))
    return tree


def tree_cpu_s(root: int | None = None) -> float:
    """User+system CPU seconds of the process tree, including reaped
    children (the Python workers the pyspark daemon forks and reaps)."""
    total = 0
    for pid in process_tree(root):
        fields = _stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime are fields 14-17 of /proc/pid/stat
            total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def tree_rss_mb(root: int | None = None, peak: bool = False) -> float:
    """Summed resident set (or peak resident set) of the process tree."""
    key = "VmHWM:" if peak else "VmRSS:"
    kb = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith(key):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0


def cpu_ticks() -> dict[str, int]:
    """Aggregate /proc/stat CPU ticks."""
    with open("/proc/stat") as f:
        parts = f.readline().split()
    names = ("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal")
    vals = dict(zip(names, (int(x) for x in parts[1:9])))
    vals["total"] = sum(vals[n] for n in names)
    return vals


def host_fracs(before: dict[str, int], after: dict[str, int]) -> dict[str, float]:
    d_total = max(after["total"] - before["total"], 1)
    steal = (after["steal"] - before["steal"]) / d_total
    iowait = (after["iowait"] - before["iowait"]) / d_total
    return {
        "steal_frac": steal,
        "iowait_frac": iowait,
        "tainted": steal > TAINT_FRAC or iowait > TAINT_FRAC,
    }
