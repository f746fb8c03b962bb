"""Host counters read from /proc: busy CPU-seconds with steal excluded,
and the summed RSS of a process tree sampled on a thread."""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def cpu_ticks() -> dict:
    """Aggregate /proc/stat cpu line: total, idle (idle + iowait), steal."""
    with open("/proc/stat") as fh:
        v = [int(x) for x in fh.readline().split()[1:]]
    v += [0] * (10 - len(v))
    return {"total": sum(v[:8]), "idle": v[3] + v[4], "steal": v[7]}


def cpu_span(t0: dict, t1: dict) -> dict:
    """Busy CPU-seconds between two readings (everything but idle,
    iowait and steal), plus steal and busy as shares of all ticks."""
    dt = max(t1["total"] - t0["total"], 1)
    steal = t1["steal"] - t0["steal"]
    busy = dt - (t1["idle"] - t0["idle"]) - steal
    return {"cpu_s": busy / _TICK,
            "steal_pct": 100.0 * steal / dt,
            "busy_pct": 100.0 * busy / dt}


def steal_adjusted(sec: float, span: dict) -> float:
    """Wall seconds less the hypervisor's share: steal is time this VM's
    CPUs wanted to run and another tenant ran instead, so a region that
    was busy B and stolen S of its ticks would have taken
    ``sec * B / (B + S)`` on an uncontended host.  Exact when the region
    keeps every CPU busy; it under-corrects idle-heavy regions."""
    total = span["busy_pct"] + span["steal_pct"]
    return sec * span["busy_pct"] / total if total > 0 else sec


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces: the ppid follows its ')'
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_rss_bytes(root: int) -> int:
    """Summed RSS of every descendant of ``root`` (not root itself):
    for a PySpark driver, the JVM and its Python daemon and workers."""
    kids = _children()
    todo, total = list(kids.get(root, [])), 0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


class RssSampler:
    """Samples tree_rss_bytes(root) every ``period`` seconds on a daemon
    thread and keeps the peak; use as a context manager."""

    def __init__(self, root: int, period: float = 0.25):
        self.root, self.period = root, period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(self.root))
            self._stop.wait(self.period)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_bytes(self.root))
