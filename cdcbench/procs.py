"""Every process a run starts has ended before the run exits.

A run starts the driver JVM (through PySpark's gateway), the JVM starts
Python workers, and the trickle phase starts a feeder process. PySpark
leaves the JVM to notice on its own that its parent has gone, so it can
outlive the run by seconds; a worker whose parent dies is re-parented away
from the run. ``adopt_orphans`` makes this process the subreaper of its
tree, so orphans are re-parented here instead; ``stop_all`` stops the JVM,
then signals every remaining descendant and reaps each one.
"""

from __future__ import annotations

import ctypes
import os
import signal
import subprocess
import sys
import time

from cdcbench.host import proc_table

PR_SET_CHILD_SUBREAPER = 36
JVM_EXIT_S = 30.0
TERM_GRACE_S = 10.0


def adopt_orphans() -> None:
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def exit_on_sigterm() -> None:
    """Turn SIGTERM into SystemExit, so the ``finally`` that stops the
    run's processes runs when the run is terminated too."""
    def handler(signum, frame):
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, handler)


def descendants(procs: dict[int, tuple[int, int, int]], root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    out, stack = [], list(children.get(root, ()))
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, ()))
    return out


def _stop_jvm() -> None:
    """Stop the SparkContext, close the gateway's stdin (the JVM exits on
    EOF, running its shutdown hooks) and wait for the JVM to end."""
    pyspark = sys.modules.get("pyspark")
    if pyspark is None:
        return
    sc_cls = pyspark.SparkContext
    if sc_cls._active_spark_context is not None:
        try:
            sc_cls._active_spark_context.stop()
        except Exception as e:  # the JVM may already be gone
            print(f"SparkContext.stop failed: {e}", file=sys.stderr)
    proc = getattr(sc_cls._gateway, "proc", None)
    if proc is None:
        return
    try:
        proc.stdin.close()
    except OSError:
        pass
    try:
        proc.wait(timeout=JVM_EXIT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_all() -> None:
    """Stop the JVM, then SIGTERM (SIGKILL after a grace period) every
    descendant still alive, until none is left."""
    signal.signal(signal.SIGTERM, signal.SIG_IGN)
    _stop_jvm()
    me = os.getpid()
    deadline = time.monotonic() + TERM_GRACE_S
    while True:
        _reap()
        left = descendants(proc_table(), me)
        if not left:
            return
        sig = signal.SIGTERM if time.monotonic() < deadline else signal.SIGKILL
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.05)
