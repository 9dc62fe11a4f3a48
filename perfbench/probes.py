"""/proc readers: summed RSS of the JVM and its Python workers, CPU steal,
load average, and run provenance."""

from __future__ import annotations

import hashlib
import os
import pathlib
import subprocess
import threading
import time


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while listing
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree(root: int) -> list[int]:
    """root and all its descendants."""
    kids = _children()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Samples the summed RSS of ``root`` (the JVM) and its descendants
    (the Python worker daemon and workers) every ``period`` seconds on a
    daemon thread; remembers every pid it saw so they can be reaped."""

    def __init__(self, root: int, period: float = 0.2):
        self.root, self.period = root, period
        self.peak_kb = 0
        self.peak_jvm_kb = 0
        self.peak_workers_kb = 0
        self.pids: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        while not self._stop.is_set():
            pids = tree(self.root)
            self.pids.update(pids)
            jvm = rss_kb(self.root)
            workers = sum(rss_kb(p) for p in pids if p != self.root)
            self.peak_kb = max(self.peak_kb, jvm + workers)
            self.peak_jvm_kb = max(self.peak_jvm_kb, jvm)
            self.peak_workers_kb = max(self.peak_workers_kb, workers)
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of CPU time stolen by the hypervisor between two samples."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d[:8])  # user..steal; guest time is already in user
    return d[7] / total if total > 0 and len(d) > 7 else 0.0


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def source_commit(root: pathlib.Path) -> dict:
    """git commit when the checkout is a repository, plus a digest of
    the program sources, which identifies the code either way."""
    h = hashlib.sha256()
    for p in sorted((root / "ccrawler_spark").rglob("*.py")):
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    commit = None
    if (root / ".git").exists():
        try:
            commit = subprocess.run(
                ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                text=True, timeout=10,
            ).stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            pass
    return {"git_commit": commit, "source_sha256": h.hexdigest()[:16]}


def reap(pids, timeout: float = 20.0) -> list[int]:
    """Wait until every pid has exited; SIGKILL what outlives ``timeout``.
    Returns the pids that had to be killed."""
    import signal

    def alive(p):
        try:
            with open(f"/proc/{p}/stat") as f:
                return f.read().rsplit(")", 1)[1].split()[0] != "Z"
        except OSError:
            return False

    deadline = time.monotonic() + timeout
    left = [p for p in pids if p != os.getpid() and alive(p)]
    while left and time.monotonic() < deadline:
        time.sleep(0.1)
        left = [p for p in left if alive(p)]
    for p in left:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass
    return left
