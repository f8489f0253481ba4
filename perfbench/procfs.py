"""The benchmark's process tree, read from /proc: this Python process, the
Spark JVM and its Python workers."""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_all() -> dict:
    """pid -> (ppid, start_ticks, cpu_ticks incl. reaped children, rss_bytes,
    comm, state)."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as f:
                raw = f.read()
        except OSError:
            continue
        comm = raw[raw.index(b"(") + 1 : raw.rindex(b")")].decode(errors="replace")
        rest = raw.rsplit(b")", 1)[1].split()
        # rest[0] is field 3 (state): ppid=4 utime..cstime=14..17 start=22 rss=24
        cpu = sum(int(x) for x in rest[11:15])
        out[int(d)] = (
            int(rest[1]), int(rest[19]), cpu, int(rest[21]) * _PAGE, comm, rest[0]
        )
    return out


def tree() -> dict:
    """The stat entries of this process and every descendant."""
    root = os.getpid()
    procs = _stat_all()
    kids: dict = {}
    for pid, st in procs.items():
        kids.setdefault(st[0], []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in procs:
            out[pid] = procs[pid]
            todo.extend(kids.get(pid, ()))
    return out


def cpu_by_group(procs: dict) -> dict:
    """CPU seconds of a tree, split into ``jvm`` and ``python``. A reaped
    child's time moves into its parent's count, so deltas stay whole."""
    out = {"jvm": 0.0, "python": 0.0}
    for _, _, cpu, _, comm, _ in procs.values():
        out["jvm" if comm == "java" else "python"] += cpu / _TICK
    return out


def pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, with pages shared between
    processes (forked Python workers) split among them."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class RssPeak(threading.Thread):
    """Samples the tree's summed proportional resident memory every
    ``INTERVAL`` seconds and keeps the peak."""

    INTERVAL = 0.25

    def __init__(self) -> None:
        super().__init__(daemon=True)
        self.peak = 0
        self._halt = threading.Event()

    def run(self) -> None:
        while True:
            self.peak = max(self.peak, sum(pss_bytes(p) for p in tree()))
            if self._halt.wait(self.INTERVAL):
                return

    def stop(self) -> int:
        self._halt.set()
        self.join(timeout=10)
        return self.peak


def wait_gone(procs: dict, timeout: float) -> None:
    """Wait until every process in ``procs`` has exited; kill stragglers."""
    import signal
    import time

    def alive() -> list:
        now = _stat_all()
        return [
            p for p, st in procs.items()
            if p in now and now[p][1] == st[1] and now[p][5] != b"Z"
        ]

    deadline = time.monotonic() + timeout
    while alive() and time.monotonic() < deadline:
        time.sleep(0.1)
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in alive():
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        end = time.monotonic() + 5
        while alive() and time.monotonic() < end:
            time.sleep(0.1)
