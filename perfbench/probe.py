"""Machine facts, the core-count guard, and /proc sampling of the process tree.

Nothing here imports Spark, so the core-count refusal runs before any JVM
starts.
"""

from __future__ import annotations

import glob
import hashlib
import os
import platform
import subprocess
import threading
import time
from typing import Dict, List, Optional

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


class CoresRefused(Exception):
    """A run asked for more Spark task slots than the CPUs it is bound to."""


def bound_cpus() -> int:
    """CPUs this process may run on (``taskset``/cgroup affinity), not the
    host's count: ``taskset -c 0-7`` on a 4-vCPU guest binds 4."""
    return len(os.sched_getaffinity(0))


def resolve_cores(requested: Optional[int], bound: Optional[int] = None) -> int:
    """The ``local[N]`` slot count to run with. ``None`` means every bound
    CPU. A request above the bound CPUs is refused, never oversubscribed."""
    bound = bound_cpus() if bound is None else bound
    if requested is None:
        return bound
    if requested < 1:
        raise CoresRefused(f"requested {requested} cores; need at least 1")
    if requested > bound:
        raise CoresRefused(
            f"requested {requested} cores but only {bound} CPUs are bound "
            f"to this process: not measured")
    return requested


def _git(root: str, *args: str) -> Optional[str]:
    if not os.path.isdir(os.path.join(root, ".git")):
        return None
    try:
        return subprocess.run(["git", "-C", root, *args], capture_output=True,
                              text=True, timeout=10, check=True).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return None


def source_digest(root: str) -> str:
    """Digest of the engine's Python sources: a code identity that also
    exists in a checkout without git metadata."""
    h = hashlib.sha1()
    files = sorted(glob.glob(os.path.join(root, "satellitetools_spark", "**", "*.py"),
                             recursive=True))
    files += sorted(glob.glob(os.path.join(root, "scripts", "*.py")))
    files.append(os.path.join(root, "__spark_entry__.py"))
    for path in files:
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def environment(root: str, cores: Optional[int]) -> Dict[str, object]:
    import pyspark
    rev = _git(root, "rev-parse", "HEAD")
    status = _git(root, "status", "--porcelain")
    return {
        "bound_cpus": bound_cpus(),
        "affinity": sorted(os.sched_getaffinity(0)),
        "host_cpus": os.cpu_count(),
        "cores": cores,
        "master": f"local[{cores}]" if cores else None,
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "git_rev": rev or "unavailable (not a git checkout)",
        "git_dirty": None if status is None else bool(status),
        "source_digest": source_digest(root),
    }


def steal_seconds() -> float:
    """CPU seconds the hypervisor has taken from this machine since boot
    (all CPUs); the difference over a run shows host contention."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK


# ---------------------------------------------------------------------------
# process tree: CPU seconds by role, resident memory
# ---------------------------------------------------------------------------

def _stat(pid: int):
    """(ppid, cpu seconds incl. reaped children, rss bytes) or None."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    fields = s[s.rindex(")") + 2:].split()
    cpu = sum(int(v) for v in fields[11:15]) / _TICK  # utime stime cutime cstime
    return int(fields[1]), cpu, int(fields[21]) * _PAGE


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def tree(root_pid: int) -> List[tuple]:
    """[(pid, role, cpu_s, rss_bytes)] for ``root_pid`` and its descendants.
    Roles: driver (the benchmark process), jvm, python_workers, other."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    children: Dict[int, List[int]] = {}
    for pid, (ppid, _, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        if pid not in stats:
            continue
        todo.extend(children.get(pid, []))
        if pid == root_pid:
            role = "driver"
        else:
            cmd = _cmdline(pid)
            role = ("jvm" if "java" in cmd.split(" ", 1)[0]
                    else "python_workers" if "pyspark" in cmd else "other")
        out.append((pid, role, stats[pid][1], stats[pid][2]))
    return out


def cpu_by_role(root_pid: int) -> Dict[str, float]:
    acc = {"driver": 0.0, "jvm": 0.0, "python_workers": 0.0, "other": 0.0}
    for _, role, cpu, _ in tree(root_pid):
        acc[role] += cpu
    return acc


class RssSampler:
    """Background sampler of the process tree's resident memory: keeps
    ``(perf_counter time, {role: rss bytes})`` per sample."""

    def __init__(self, root_pid: int, period_s: float = 0.25):
        self.root_pid = root_pid
        self.period_s = period_s
        self.samples: List[tuple] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            acc = {"driver": 0, "jvm": 0, "python_workers": 0, "other": 0}
            for _, role, _, rss in tree(self.root_pid):
                acc[role] += rss
            self.samples.append((time.perf_counter(), acc))
            self._stop.wait(self.period_s)

    def peak_bytes(self, start: float = 0.0, end: float = float("inf")) -> int:
        """Largest summed RSS sampled between ``start`` and ``end``."""
        return max((sum(acc.values()) for t, acc in self.samples
                    if start <= t <= end), default=0)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

