"""Process hygiene: every process a run starts has ended before it exits.

Spark's JVM is a child of the driver, and the JVM forks the Python
worker daemons.  ``SparkSession.stop()`` leaves the JVM running until the
driver process is gone, and the JVM then exits on its own time, so a run
must stop it explicitly and wait.  ``become_subreaper()`` makes workers
orphaned by the JVM re-parent to the driver, so ``stop_all()`` can wait
for them too.  ``jvm_dies_with_driver()`` covers the one path no cleanup
code runs on, the driver being killed: the kernel then kills the JVM.
"""

from __future__ import annotations

import ctypes
import os
import signal
import subprocess
import time

PR_SET_PDEATHSIG = 1
PR_SET_CHILD_SUBREAPER = 36


def _prctl():
    """libc's ``prctl``, or None off Linux."""
    try:
        return ctypes.CDLL(None, use_errno=True).prctl
    except (OSError, AttributeError):
        return None


def become_subreaper() -> None:
    """Linux only; elsewhere a no-op."""
    prctl = _prctl()
    if prctl is not None:
        prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def jvm_dies_with_driver() -> None:
    """Have the JVM that pyspark launches receive SIGKILL when the thread
    that launched it (the driver's main thread) ends.  Wraps the
    ``Popen`` pyspark's gateway launcher calls, keeping its own
    ``preexec_fn``.  Linux only; elsewhere a no-op."""
    prctl = _prctl()
    if prctl is None:
        return
    import pyspark.java_gateway as gateway

    popen = gateway.Popen

    def launch(cmd, **kwargs):
        inner = kwargs.get("preexec_fn")

        def preexec():
            if inner is not None:
                inner()
            prctl(PR_SET_PDEATHSIG, signal.SIGKILL, 0, 0, 0)

        kwargs["preexec_fn"] = preexec
        return popen(cmd, **kwargs)

    gateway.Popen = launch


def _process_table() -> dict[int, tuple[int, str]]:
    """pid -> (parent pid, state) of every process visible in /proc."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2:].split()
        table[int(name)] = (int(fields[1]), fields[0])
    return table


def descendants(pid: int | None = None) -> list[int]:
    """Live (not zombie) descendants of ``pid`` (default: this process)."""
    root = os.getpid() if pid is None else pid
    table = _process_table()
    children: dict[int, list[int]] = {}
    for p, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(p)
    out, todo = [], list(children.get(root, []))
    while todo:
        p = todo.pop()
        if table[p][1] != "Z":
            out.append(p)
        todo.extend(children.get(p, []))
    return out


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _signal(pids: list[int], sig: int) -> None:
    for p in pids:
        try:
            os.kill(p, sig)
        except ProcessLookupError:
            pass


def stop_spark(timeout: float) -> None:
    """Stop the active SparkContext and the JVM behind it, waiting for
    the JVM to exit.  The JVM exits when its stdin closes."""
    try:
        from pyspark import SparkContext
    except ImportError:
        return
    sc = SparkContext._active_spark_context
    if sc is not None:
        try:
            sc.stop()
        except Exception:  # noqa: BLE001 — the JVM is stopped below regardless
            pass
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is None:
        return
    try:
        proc.stdin.close()
    except (OSError, AttributeError):
        pass
    try:
        proc.wait(timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def stop_all(timeout: float = 30.0) -> None:
    """Stop Spark, then end and reap every remaining descendant: first
    wait, then SIGTERM, then SIGKILL, each for a share of ``timeout``."""
    stop_spark(timeout)
    start = time.monotonic()
    escalation = [(0.4, signal.SIGTERM), (0.7, signal.SIGKILL)]
    while True:
        _reap()
        left = descendants()
        if not left:
            return
        elapsed = (time.monotonic() - start) / timeout
        while escalation and elapsed >= escalation[0][0]:
            _signal(left, escalation.pop(0)[1])
        if elapsed >= 1.0:
            return
        time.sleep(0.05)
