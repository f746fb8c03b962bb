"""Process bookkeeping for one benchmark run.

run.py makes itself the child subreaper (Linux ``prctl``), so a process
that a session orphans is re-parented to run.py rather than to init.
That covers the JVM once the session's Python exits, and PySpark's
python-worker daemon, which moves itself into a process group of its own
(``daemon.py`` calls ``setpgid(0, 0)``) and so escapes a ``killpg`` of the
session's group.  Every such process keeps the session id of the session
it was started in, so ``stop`` selects by session (one launched session)
or by descent from run.py (the end of a run), kills with SIGKILL, reaps
what became run.py's zombies, and returns only when nothing selected is
left.
"""

from __future__ import annotations

import ctypes
import os
import signal
import time
from typing import Callable

PR_SET_CHILD_SUBREAPER = 36

# pid -> (ppid, session id, state letter)
Table = dict[int, tuple[int, int, str]]


def become_subreaper() -> bool:
    try:
        prctl = ctypes.CDLL(None, use_errno=True).prctl
        prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
        prctl.restype = ctypes.c_int
        return prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) == 0
    except (OSError, AttributeError):
        return False


def process_table() -> Table:
    out: Table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces and parentheses
        fields = stat[stat.rindex(")") + 2:].split()
        out[int(name)] = (int(fields[1]), int(fields[3]), fields[0])
    return out


def in_session(sid: int) -> Callable[[Table], set[int]]:
    def select(table: Table) -> set[int]:
        return {pid for pid, (_, s, _) in table.items() if s == sid}
    return select


def descendants_of(root: int) -> Callable[[Table], set[int]]:
    def select(table: Table) -> set[int]:
        kids: dict[int, list[int]] = {}
        for pid, (ppid, _, _) in table.items():
            kids.setdefault(ppid, []).append(pid)
        out: set[int] = set()
        todo = list(kids.get(root, []))
        while todo:
            pid = todo.pop()
            if pid not in out:
                out.add(pid)
                todo.extend(kids.get(pid, []))
        return out
    return select


def _reap_own_zombies(table: Table) -> None:
    me = os.getpid()
    for pid, (ppid, _, state) in table.items():
        if ppid == me and state == "Z":
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass


def stop(select: Callable[[Table], set[int]], wait_s: float = 20.0
         ) -> list[int]:
    """Kill every process ``select`` picks (never run.py itself) and wait
    until each is gone: reaped by run.py, or a zombie that some process
    other than run.py or the selection will reap.  A JVM shows as a
    zombie while its other threads still exit, and cannot be reaped
    before they have, so a zombie child of run.py is waited for too.
    Returns the pids left after ``wait_s`` (empty on success)."""
    me = os.getpid()
    deadline = time.monotonic() + wait_s
    while True:
        table = process_table()
        _reap_own_zombies(table)
        chosen = select(table) - {me}
        left = [pid for pid in chosen if pid in table
                and (table[pid][2] != "Z" or table[pid][0] == me
                     or table[pid][0] in chosen)]
        if not left or time.monotonic() > deadline:
            return left
        for pid in left:
            if table[pid][2] != "Z":
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)
