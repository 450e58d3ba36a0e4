"""Ending the processes a run starts, and waiting until each has ended.

A run starts three kinds of process: the Spark JVM (a child of the driver),
the JVM's Python worker daemon and the workers it forks (grandchildren,
which the JVM's exit orphans), and the ``multiprocessing`` resource tracker
that the ``spawn`` pools of ``corpus.py`` and ``hostprobe.py`` start (a
child that would otherwise outlive the driver by a moment).  A process is
known by its pid and start time, so a pid the kernel hands out again is
never waited for or signalled.
"""

from __future__ import annotations

import os
import signal
import time


def _stat(pid: int) -> tuple[str, int] | None:
    """(state, start time) of a process, or None once it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None
    return fields[0], int(fields[19])


def tree(root: int) -> dict[int, int]:
    """pid → start time of ``root`` and every live descendant."""
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        stat = _stat(pid)
        if stat is None:
            continue
        out[pid] = stat[1]
        try:
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/children") as f:
                    todo.extend(int(c) for c in f.read().split())
        except OSError:  # the process ended while we walked
            continue
    return out


def alive(pid: int, start: int) -> bool:
    """Whether the process still runs; one that has ended as a child of
    this process is reaped."""
    try:
        os.waitpid(pid, os.WNOHANG)
    except ChildProcessError:
        pass
    stat = _stat(pid)
    if stat is None or stat[1] != start:
        return False
    if stat[0] not in "ZX":
        return True
    # a zombie leader: the process lives on while any other thread does (a
    # JVM's main thread can end before the threads that run its shutdown)
    try:
        return len(os.listdir(f"/proc/{pid}/task")) > 1
    except OSError:
        return False


def _signal(procs: dict[int, int], sig: int) -> None:
    for pid, start in procs.items():
        if alive(pid, start):
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass


def wait_ended(procs: dict[int, int], timeout: float) -> None:
    """Wait until every process of ``procs`` has ended; kill those still
    running after ``timeout`` seconds and wait for them too."""
    for sig in (None, signal.SIGKILL):
        if sig is not None:
            _signal(procs, sig)
        end = time.monotonic() + timeout
        while any(alive(pid, start) for pid, start in procs.items()):
            if time.monotonic() > end:
                break
            time.sleep(0.05)
        else:
            return
    raise RuntimeError(f"processes still running: {sorted(p for p, s in procs.items() if alive(p, s))}")


def end_all(timeout: float = 20) -> None:
    """Kill every process this process started, their children included,
    and wait for each.  On a clean way out none is left by then; on any
    other, every process is stopped before the kill, so that none can start
    another (as a JVM whose Python worker died does) between the walk of
    the tree and the kill."""
    from multiprocessing import resource_tracker

    resource_tracker._resource_tracker._stop()  # ends it, if it runs, and waits
    me, procs = os.getpid(), {}
    while True:
        found = {pid: start for pid, start in tree(me).items() if pid != me and pid not in procs}
        if not found:
            break
        _signal(found, signal.SIGSTOP)
        procs.update(found)
    _signal(procs, signal.SIGKILL)
    wait_ended(procs, timeout)
