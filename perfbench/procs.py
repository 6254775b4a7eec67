"""Every process a run starts ends before the run does.

A run starts the driver JVM, and the JVM starts Spark's Python worker
daemon, which puts itself and its workers in a process group of their
own. When the JVM stops, the daemon is told to exit but is not waited
for, so it can outlive the run by a moment. ``adopt_orphans`` makes this
process the child subreaper of its tree: a descendant whose parent exits
is re-parented here instead of to init, so ``reap_children`` can wait for
every descendant, and end the ones that do not exit, before the run
returns. ``exit_on_signals`` turns a termination signal into
``SystemExit`` so the same clean-up runs when the run is stopped early.
"""

from __future__ import annotations

import contextlib
import os
import signal
import sys
import time

PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> bool:
    """Make this process the child subreaper of its descendants (Linux);
    returns whether that worked."""
    import ctypes

    try:
        libc = ctypes.CDLL(None, use_errno=True)
        return libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) == 0
    except (OSError, AttributeError):
        return False


def children(pid: int | None = None) -> list[int]:
    """Pids whose parent is ``pid`` (default: this process), zombies
    included."""
    pid = os.getpid() if pid is None else pid
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:  # ended while listing
            continue
        # the command name in parentheses may hold spaces; ppid is the
        # second field after it
        if int(stat.rsplit(")", 1)[1].split()[1]) == pid:
            out.append(int(d))
    return out


def _reap_zombies() -> None:
    with contextlib.suppress(ChildProcessError):
        while os.waitpid(-1, os.WNOHANG)[0] > 0:
            pass


def reap_children(grace_s: float = 15.0, step_s: float = 5.0) -> list[int]:
    """Wait until this process has no children left. Children still
    running after ``grace_s`` get SIGTERM, and those still running
    ``step_s`` later SIGKILL, twice at most. Orphaned grandchildren
    re-parented here (see ``adopt_orphans``) are waited for in turn.
    Returns the pids that had to be signalled."""
    signalled: list[int] = []
    deadline = time.monotonic() + grace_s
    attempts = 0
    while True:
        _reap_zombies()
        kids = children()
        if not kids:
            return signalled
        now = time.monotonic()
        if now > deadline:
            if attempts == 3:
                print(f"perfbench: processes {kids} did not end", file=sys.stderr)
                return signalled
            sig = signal.SIGTERM if attempts == 0 else signal.SIGKILL
            for pid in kids:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, sig)
                    signalled.append(pid)
            attempts += 1
            deadline = now + step_s
        time.sleep(0.02)


def _raise_exit(signum, _frame):
    raise SystemExit(128 + signum)


def exit_on_signals() -> None:
    """SIGTERM and SIGHUP raise ``SystemExit``, so ``finally`` blocks
    (stopping Spark, reaping children, removing the work directory) run
    when the run is stopped from outside."""
    for s in (signal.SIGTERM, signal.SIGHUP):
        signal.signal(s, _raise_exit)
