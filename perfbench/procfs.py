"""Linux /proc readers: host CPU steal, per-process CPU and RSS, process trees.

Each parser takes the file's text so the tests can feed it fixed samples;
the ``read_*`` helpers open the live files.
"""

from __future__ import annotations

import os

CLK_TCK = os.sysconf("SC_CLK_TCK")


def parse_cpu_line(text: str) -> dict[str, int]:
    """Aggregate ``cpu`` line of /proc/stat → jiffies by state.

    Fields after the label, in kernel order: user nice system idle iowait
    irq softirq steal guest guest_nice (older kernels stop early; missing
    fields read as 0).
    """
    names = ("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal", "guest", "guest_nice")
    for line in text.splitlines():
        parts = line.split()
        if parts and parts[0] == "cpu":
            vals = [int(x) for x in parts[1:]]
            vals += [0] * (len(names) - len(vals))
            return dict(zip(names, vals))
    raise ValueError("no aggregate 'cpu' line in /proc/stat text")


def parse_pid_stat(text: str) -> dict[str, int | str]:
    """One /proc/<pid>/stat line → pid, comm, ppid and CPU ticks.

    ``comm`` is parenthesised and may itself contain spaces or ')', so the
    fields are split after the LAST ')'.
    """
    lpar, rpar = text.index("("), text.rindex(")")
    rest = text[rpar + 2 :].split()
    # rest[0] is field 3 (state); utime is field 14 → rest[11]
    return {
        "pid": int(text[:lpar]),
        "comm": text[lpar + 1 : rpar],
        "ppid": int(rest[1]),
        "utime": int(rest[11]),
        "stime": int(rest[12]),
        "cutime": int(rest[13]),
        "cstime": int(rest[14]),
    }


def parse_status_kb(text: str, key: str) -> int | None:
    """Value in kB of one ``Key:   123 kB`` line of /proc/<pid>/status."""
    for line in text.splitlines():
        if line.startswith(key + ":"):
            return int(line.split()[1])
    return None


def _read(path: str) -> str | None:
    try:
        with open(path) as f:
            return f.read()
    except OSError:  # the process exited between listing and reading
        return None


def read_steal_s() -> float:
    """Host-wide CPU steal so far, in CPU-seconds."""
    return parse_cpu_line(_read("/proc/stat") or "")["steal"] / CLK_TCK


def read_pid_stat(pid: int) -> dict[str, int | str] | None:
    text = _read(f"/proc/{pid}/stat")
    return parse_pid_stat(text) if text else None


def read_rss_peak_mb(pid: int) -> float | None:
    text = _read(f"/proc/{pid}/status")
    kb = parse_status_kb(text, "VmHWM") if text else None
    return kb / 1024 if kb is not None else None


def process_table() -> list[dict[str, int | str]]:
    """Every live process's parsed stat line."""
    out = []
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = read_pid_stat(int(name))
            if st is not None:
                out.append(st)
    return out


def descendants(table: list[dict[str, int | str]], root: int) -> list[dict[str, int | str]]:
    """Processes below ``root`` (not ``root`` itself) in ``table``."""
    children: dict[int, list[dict]] = {}
    for st in table:
        children.setdefault(st["ppid"], []).append(st)
    out, stack = [], [root]
    while stack:
        for st in children.get(stack.pop(), []):
            out.append(st)
            stack.append(st["pid"])
    return out


def own_cpu_s(st: dict[str, int | str]) -> float:
    return (st["utime"] + st["stime"]) / CLK_TCK


def tree_cpu_s(st: dict[str, int | str]) -> float:
    """Own CPU plus that of exited, reaped children."""
    return (st["utime"] + st["stime"] + st["cutime"] + st["cstime"]) / CLK_TCK


def child_cpu_s(jvm_pid: int) -> float:
    """CPU-seconds of everything the JVM started: live descendants plus the
    children it (or they) already reaped.  Under a local-mode Spark driver
    these are the Python workers (pandas UDFs, mapInArrow, Python data
    sources, the transformWithState state server)."""
    jvm = read_pid_stat(jvm_pid)
    if jvm is None:
        return 0.0
    reaped = (jvm["cutime"] + jvm["cstime"]) / CLK_TCK
    return reaped + sum(tree_cpu_s(st) for st in descendants(process_table(), jvm_pid))
