"""CPU, memory and host readings from /proc.

The benchmark's cost metric is CPU seconds summed over the process tree
(this Python driver, the JVM it launches and the Python workers the JVM
forks). Under host CPU steal the wall clock of identical work swings widely
while the CPU it burns stays close to constant, so both are reported.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None  # exited between listing and reading
    # the command name may hold spaces; fields restart after its ')'
    return raw[raw.rindex(")") + 2:].split()


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields is not None:
                kids.setdefault(int(fields[1]), []).append(int(name))
    return kids


def tree_pids(root: int) -> list[int]:
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _ended(pid: int) -> bool:
    fields = _stat_fields(pid)
    return fields is None or fields[0] in ("Z", "X")


def wait_ended(pids: list[int], timeout: float) -> list[int]:
    """Wait until every pid has exited (zombies count as exited); SIGKILL
    whatever is left after `timeout` seconds. Returns the pids killed."""
    import signal
    import time

    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline and not all(_ended(p) for p in pids):
        time.sleep(0.1)
    killed = [p for p in pids if not _ended(p)]
    for p in killed:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    return killed


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of `root` and every live descendant,
    including what each has collected from children it reaped."""
    total = 0
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime (stat fields 14-17)
            total += sum(int(v) for v in fields[11:15])
    return total / _TICK


def peak_rss_mb(pid: int) -> float:
    """VmHWM (peak resident set) of one process, in MiB."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def host_times() -> dict[str, float]:
    """Host-wide CPU seconds by state, from the aggregate line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    names = ("user", "nice", "sys", "idle", "iowait", "irq", "softirq", "steal")
    return {n: v / _TICK for n, v in zip(names, vals)}


def host_delta(before: dict[str, float], after: dict[str, float]) -> dict[str, float]:
    """Host telemetry over an interval: steal, iowait, user and sys seconds
    plus the 1-minute load average at its end."""
    d = {k: round(after[k] - before[k], 2) for k in ("steal", "iowait", "user", "sys")}
    d["load1"] = round(os.getloadavg()[0], 2)
    return d
