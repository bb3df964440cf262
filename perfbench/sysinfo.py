"""What a benchmark record says about the machine and the program:
process-tree memory and CPU time, the hypervisor's steal, a single-core
speed marker, versions and the commit or source digest."""

from __future__ import annotations

import hashlib
import os
import platform
import threading
import time
from pathlib import Path
from typing import Dict, Optional, Tuple

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def _children() -> Dict[int, list]:
    kids: Dict[int, list] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue  # exited between listdir and open
        # the command name may hold spaces: fields resume after the ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def tree_pids(root: int) -> list:
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and all its descendants (the driver,
    the JVM it launched and the JVM's Python workers)."""
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) used so far by ``root``, its live
    descendants and the children they have reaped."""
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited since the listing
        total += sum(int(f) for f in fields[11:15])  # utime stime cutime cstime
    return total / _TICK


def cpu_counters(root: Optional[int] = None) -> Tuple[float, float]:
    """(CPU seconds of the process tree, the VM's steal seconds): take one
    before and one after an interval and hand both to :func:`net_of_steal`."""
    with open("/proc/stat") as fh:
        steal = int(fh.readline().split()[8])  # the aggregate "cpu" line
    return tree_cpu_s(root or os.getpid()), steal / _TICK


def net_of_steal(wall: float, before: Tuple[float, float], after: Tuple[float, float]) -> float:
    """``wall`` without the hypervisor's steal.  A vCPU accrues steal only
    while the guest wants it, so cpu / (cpu + steal) is the share of the
    run's CPU demand that was served; the wall is scaled by it.  On a
    shared host steal moves a run's wall by tens of percent from one
    minute to the next, for reasons outside the program."""
    cpu, steal = after[0] - before[0], after[1] - before[1]
    return wall * cpu / (cpu + steal) if cpu > 0 else wall


class RssSampler:
    """Samples :func:`tree_rss_bytes` on a background thread and keeps
    the peak of levels held for two samples in a row.  A level that lasts
    less than one interval is not counted: between a JVM's posix_spawn
    and the child's exec the child shares the JVM's pages, and /proc
    reports them once for each process."""

    def __init__(self, root: Optional[int] = None, interval: float = 0.2) -> None:
        self.root = root or os.getpid()
        self.interval = interval
        self.peak = 0
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        last = 0
        while True:
            level = tree_rss_bytes(self.root)
            self.peak = max(self.peak, min(last, level))
            last = level
            self.samples += 1
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def calibration_s(iters: int = 100_000) -> float:
    """Seconds for a single-core md5 chain: a box-speed marker taken at
    the start and end of every run, so runs on a slower or busier
    machine can be told apart from slower code."""
    h = b"x" * 1000
    t0 = time.perf_counter()
    for _ in range(iters):
        h = hashlib.md5(h).digest()
    return time.perf_counter() - t0


def cpu_model() -> str:
    try:
        with open("/proc/cpuinfo") as fh:
            for line in fh:
                if line.startswith("model name"):
                    return line.split(":", 1)[1].strip()
    except OSError:
        pass
    return platform.processor() or "unknown"


def git_commit(root: str) -> Optional[str]:
    """HEAD's commit id read from ``.git`` (None outside a git checkout)."""
    git = Path(root) / ".git"
    try:
        head = (git / "HEAD").read_text().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        ref_file = git / ref
        if ref_file.is_file():
            return ref_file.read_text().strip()
        for line in (git / "packed-refs").read_text().splitlines():
            if line.endswith(" " + ref):
                return line.split()[0]
    except OSError:
        pass
    return None


def source_digest(root: str) -> str:
    """sha256 over the package's Python sources: names the program
    version where no git metadata exists."""
    h = hashlib.sha256()
    pkg = Path(root) / "uniparser_spark"
    for path in sorted(pkg.rglob("*.py")):
        h.update(str(path.relative_to(pkg)).encode())
        h.update(path.read_bytes())
    return h.hexdigest()
