"""Stopping every process a run starts.

``get_session`` launches the Spark JVM as a child of this process, and
the JVM forks the Python worker daemon and its workers. The JVM only
exits on its own once this process has exited and its stdin hits EOF,
so without help it outlives the run by a second or two, and it leaves
an unreaped launcher shell behind. ``adopt_orphans`` makes this process
the reaper of every orphaned descendant; ``stop`` ends them all, waits
until each has ended, and reaps them.
"""

from __future__ import annotations

import ctypes
import os
import signal
import time

PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Become the child subreaper, so a descendant whose parent ends is
    re-parented to this process and reaped here, not left to PID 1."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _stat(pid: int):
    """(state, ppid, start time) of a process, or None once it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            s = fh.read()
    except OSError:
        return None
    f = s[s.rindex(")") + 2:].split()
    return f[0], int(f[1]), f[19]


def descendants(root: int) -> dict[int, str]:
    """Every live descendant of ``root``, pid -> start time."""
    kids: dict[int, list[int]] = {}
    starts: dict[int, str] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        st = _stat(int(d))
        if st is not None and st[0] != "Z":
            kids.setdefault(st[1], []).append(int(d))
            starts[int(d)] = st[2]
    out, todo = {}, [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            out[c] = starts[c]
            todo.append(c)
    return out


def _reap() -> bool:
    """Reap every ended child; True while some child is unreaped."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return False
        if pid == 0:
            return True


def _running(pid: int, start: str) -> bool:
    """True until a process has fully ended. A zombie thread-group
    leader whose other threads still run (the JVM while it shuts down)
    has not ended; a zombie with no thread left has."""
    st = _stat(pid)
    if st is None or st[2] != start:
        return False
    if st[0] != "Z":
        return True
    try:
        return len(os.listdir(f"/proc/{pid}/task")) > 1
    except OSError:
        return False




def _signal(tracked: dict[int, str], sig: int) -> None:
    for pid in tracked:
        try:
            os.kill(pid, sig)
        except OSError:
            pass


def _wait(tracked: dict[int, str], seconds: float) -> dict[int, str]:
    """Poll until every tracked process (and any new descendant) has
    ended or ``seconds`` pass; returns the ones still running."""
    deadline = time.monotonic() + seconds
    while True:
        children = _reap()
        tracked = {
            pid: s for pid, s in {**tracked, **descendants(os.getpid())}.items()
            if _running(pid, s)
        }
        if (not tracked and not children) or time.monotonic() >= deadline:
            return tracked
        time.sleep(0.05)


def kill_all() -> None:
    """SIGKILL every descendant and wait for them: the watchdog's path."""
    tracked = descendants(os.getpid())
    _signal(tracked, signal.SIGKILL)
    _wait(tracked, 10.0)


def stop(spark=None) -> None:
    """Stop the session, close the JVM's stdin so its gateway exits, and
    wait for the JVM and every worker to end; escalate to SIGTERM and
    then SIGKILL for any that linger. Safe to call more than once."""
    from pyspark import SparkContext

    if spark is not None:
        try:
            spark.stop()
        except Exception as exc:  # the JVM may already be gone
            print(f"# spark.stop failed: {exc!r}")
    tracked = descendants(os.getpid())
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        try:
            gateway.shutdown()
        except Exception:
            pass
        if proc is not None and proc.stdin is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
        SparkContext._gateway = None
        SparkContext._jvm = None
    for sig, grace in ((None, 30.0), (signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        if sig is not None:
            _signal(tracked, sig)
        tracked = _wait(tracked, grace)
        if not tracked:
            return
    print(f"# processes still running after SIGKILL: {sorted(tracked)}")
