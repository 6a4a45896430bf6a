"""Lifetime of the processes a benchmark run starts.

A run starts a Spark driver JVM (which starts ``pyspark.daemon`` workers
in process groups of their own), the feed server and, once per version
of the program, the snapshot builder. Stopping the JVM only asks its
workers to exit, so they can outlive it. ``owned_processes`` makes the
entry point a child subreaper: every descendant that loses its parent is
re-parented to it, and none has been left running when the block exits.
``die_with_parent`` makes a helper process end when the process that
started it does, even when that one is killed outright.
"""

from __future__ import annotations

import ctypes
import os
import signal
import sys
import time
from contextlib import contextmanager

PR_SET_PDEATHSIG = 1
PR_SET_CHILD_SUBREAPER = 36
# how long a descendant gets to exit on its own, and then after SIGTERM;
# stopped Python workers and a stopped JVM take well under a second
GRACE_S = 10.0


def _prctl(option: int, arg: int) -> None:
    libc = ctypes.CDLL(None, use_errno=True)
    prctl = libc.prctl
    prctl.argtypes = [ctypes.c_int, ctypes.c_ulong, ctypes.c_ulong, ctypes.c_ulong, ctypes.c_ulong]
    prctl.restype = ctypes.c_int
    if prctl(option, arg, 0, 0, 0) != 0:
        err = ctypes.get_errno()
        raise OSError(err, os.strerror(err))


def _exit_on_sigterm() -> None:
    """Turn SIGTERM into SystemExit, so ``finally`` blocks run."""
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))


def die_with_parent() -> None:
    """Receive SIGTERM when the parent exits."""
    parent = os.getppid()
    _prctl(PR_SET_PDEATHSIG, signal.SIGTERM)
    if os.getppid() != parent:  # the parent died before the request took
        sys.exit(1)


def descendants() -> list[int]:
    """Every live process below this one, zombies excluded."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue  # the process ended while the table was read
        if fields[0] != "Z":
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [os.getpid()]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def _reap_zombies() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def reap_descendants() -> None:
    """Wait for every descendant to end: GRACE_S for each to exit on its
    own, then SIGTERM, then SIGKILL after another GRACE_S."""
    start = time.monotonic()
    while True:
        _reap_zombies()
        alive = descendants()
        if not alive:
            _reap_zombies()
            return
        waited = time.monotonic() - start
        if waited > GRACE_S:
            sig = signal.SIGKILL if waited > 2 * GRACE_S else signal.SIGTERM
            for pid in alive:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


@contextmanager
def owned_processes():
    """Adopt orphaned descendants and reap them all on the way out, on
    every path out of the block, SIGTERM included."""
    _prctl(PR_SET_CHILD_SUBREAPER, 1)
    _exit_on_sigterm()
    try:
        yield
    finally:
        reap_descendants()
