"""CPU time and peak memory of a process tree, read from /proc.

The benchmark process is the Spark driver: the JVM it launches and the
Python workers the JVM forks are its descendants, so one tree walk from
the benchmark's own pid covers driver, JVM and workers.
"""

from __future__ import annotations

import os
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")


def parse_stat(text: str) -> dict:
    """Fields of one /proc/<pid>/stat line. The command name may hold
    spaces and parentheses, so the fixed fields are split after the
    last ')'."""
    rest = text[text.rindex(")") + 2 :].split()
    # rest[0] is field 3 (state); field n is rest[n - 3]
    return {
        "ppid": int(rest[1]),
        "utime": int(rest[11]),
        "stime": int(rest[12]),
        "cutime": int(rest[13]),
        "cstime": int(rest[14]),
        "starttime": int(rest[19]),
    }


def parse_status_kb(text: str, field: str) -> int:
    """A ``kB`` field such as VmHWM from /proc/<pid>/status (0 when the
    field is absent, as for kernel threads and zombies)."""
    for line in text.splitlines():
        if line.startswith(field + ":"):
            return int(line.split()[1])
    return 0


def _read(path: str) -> str | None:
    try:
        with open(path) as fh:
            return fh.read()
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        return None  # the process exited between listing and reading


def descendants(root: int, proc: str = "/proc") -> list[int]:
    """root and every live descendant of it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir(proc):
        if not name.isdigit():
            continue
        text = _read(os.path.join(proc, name, "stat"))
        if text:
            children.setdefault(parse_stat(text)["ppid"], []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int, proc: str = "/proc") -> float:
    """utime + stime of the tree, including children each process has
    reaped (cutime + cstime), in seconds."""
    ticks = 0
    for pid in descendants(root, proc):
        text = _read(os.path.join(proc, str(pid), "stat"))
        if text:
            f = parse_stat(text)
            ticks += f["utime"] + f["stime"] + f["cutime"] + f["cstime"]
    return ticks / CLK_TCK


def peak_rss_by_name(root: int, proc: str = "/proc") -> dict[str, list[float]]:
    """VmHWM (peak resident set) in MiB of every live process of the
    tree, grouped by process name."""
    out: dict[str, list[float]] = {}
    for pid in descendants(root, proc):
        text = _read(os.path.join(proc, str(pid), "status"))
        if text:
            name = text.split("\n", 1)[0].partition(":")[2].strip()
            out.setdefault(name, []).append(parse_status_kb(text, "VmHWM") / 1024.0)
    return out


def cpu_ticks(proc: str = "/proc") -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine since boot, from the
    aggregate cpu line of /proc/stat. Steal is time the hypervisor ran
    other guests while this one had work: a host-noise reading."""
    with open(os.path.join(proc, "stat")) as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def process_age_s(pid: int | None = None) -> float:
    """Seconds since the process started, from its /proc start time."""
    pid = pid or os.getpid()
    with open("/proc/%d/stat" % pid) as fh:
        start = parse_stat(fh.read())["starttime"] / CLK_TCK
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start


def _alive(pid: int) -> bool:
    text = _read("/proc/%d/stat" % pid)
    return text is not None and text[text.rindex(")") + 2] != "Z"


def wait_gone(pids: list[int], timeout_s: float = 30.0) -> None:
    """Wait until every pid has exited, reaping our own children; after
    ``timeout_s`` the stragglers are killed and waited for."""
    import signal

    deadline = time.monotonic() + timeout_s
    killed = False
    while True:
        for pid in pids:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass  # not our child: its new parent reaps it
        left = [p for p in pids if _alive(p)]
        if not left:
            return
        if time.monotonic() > deadline and not killed:
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            killed = True
        time.sleep(0.05)
