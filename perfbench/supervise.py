"""Run the benchmark in a child process and leave no process behind.

A run starts processes that can outlive the Python code that started
them: the Spark JVM, PySpark's worker daemon and its forked workers, and
the input generator's spawn pool with its multiprocessing resource
tracker, which exits only after its parent has. This module makes the
supervising process the child subreaper (prctl PR_SET_CHILD_SUBREAPER),
so every orphaned descendant is re-parented to it rather than to init,
runs the benchmark in a new process group, and after the benchmark exits
(or the supervisor is signalled) waits for, then terminates, then kills
and reaps every remaining descendant before returning.

Standard library only: it must run, and fail cleanly, where the program
under test is absent.
"""

from __future__ import annotations

import ctypes
import os
import signal
import subprocess
import sys
import time

CHILD_ENV = "PERFBENCH_CHILD"
PR_SET_CHILD_SUBREAPER = 36
GRACE_S = 5.0  # let descendants exit on their own first
TERM_S = 10.0  # then SIGTERM; after this, SIGKILL


def _become_subreaper() -> None:
    try:
        libc = ctypes.CDLL(None, use_errno=True)
        libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def _children() -> list[int]:
    """Live (or zombie) processes whose parent is this process."""
    me = os.getpid()
    kids = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        if int(stat[stat.rfind(b")") + 2:].split()[1]) == me:
            kids.append(int(d))
    return kids


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def _signal(pids, pgid: int, sig: int) -> None:
    for pid in pids:
        try:
            os.kill(pid, sig)
        except ProcessLookupError:
            pass
    try:
        os.killpg(pgid, sig)
    except ProcessLookupError:
        pass


def reap_all(pgid: int) -> None:
    """Wait until every descendant and every member of process group
    `pgid` has ended: first on their own, then SIGTERM, then SIGKILL."""
    t0 = time.monotonic()
    last = None
    while True:
        _reap()
        kids = _children()
        if not kids and not _group_alive(pgid):
            return
        waited = time.monotonic() - t0
        sig = (signal.SIGKILL if waited > GRACE_S + TERM_S
               else signal.SIGTERM if waited > GRACE_S else None)
        if sig is not None:
            if sig != last:
                print(f"supervise: sending {sig.name} to leftover processes "
                      f"{sorted(kids)} and group {pgid}", file=sys.stderr, flush=True)
                last = sig
            _signal(kids, pgid, sig)
        time.sleep(0.05)


def run(script: str, argv: list[str]) -> int:
    """Run `python3 script argv...` as the benchmark child; return its
    exit code once nothing it started is left running."""
    _become_subreaper()
    env = dict(os.environ, **{CHILD_ENV: "1"})
    child = subprocess.Popen([sys.executable, script, *argv], env=env,
                             start_new_session=True)

    def forward(signum, _frame):
        try:
            os.killpg(child.pid, signum)
        except ProcessLookupError:
            pass

    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, forward)
    try:
        rc = child.wait()
    finally:
        reap_all(child.pid)
    return rc if rc >= 0 else 128 - rc
