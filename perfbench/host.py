"""Run hygiene: host stamps, environment scrubbing, and the CPU time,
peak memory and CPU steal of the whole process tree."""

from __future__ import annotations

import hashlib
import mmap
import os
import resource
import subprocess
import time
from pathlib import Path

import numpy as np

# settings the program reads from the environment; a run records their
# values and then unsets them, so every run measures the defaults
SCRUBBED_PREFIXES = ("SPARK_GRAFT_",)
SCRUBBED_NAMES = ("SPARK_DRIVER_MEMORY",)


def scrub_env() -> dict:
    """Record and unset every program-tuning environment variable."""
    found = {
        k: v
        for k, v in os.environ.items()
        if k.startswith(SCRUBBED_PREFIXES) or k in SCRUBBED_NAMES
    }
    for k in found:
        del os.environ[k]
    return found


def host_stamp(root: Path) -> dict:
    """``calib_sec``: wall of a fixed single-thread numpy kernel (CPU
    contention); ``fault_sec``: wall of first-touching 64 MiB of fresh
    4 KiB pages (memory backing-store health). Same probes as the
    repository's ``bench.py``, so stamps compare across the two."""
    a = np.random.RandomState(0).standard_normal((384, 384))
    t0 = time.perf_counter()
    for _ in range(60):
        a = np.tanh(a @ a.T / 384.0)
    calib = time.perf_counter() - t0
    n = 64 << 20
    buf = mmap.mmap(-1, n)
    t0 = time.perf_counter()
    for off in range(0, n, 4096):
        buf[off] = 1
    fault = time.perf_counter() - t0
    buf.close()
    return {
        "git_rev": git_rev(root),
        "src_sha": source_sha(root),
        "nproc": os.cpu_count(),
        "loadavg": [round(x, 2) for x in os.getloadavg()],
        "calib_sec": round(calib, 4),
        "fault_sec": round(fault, 4),
    }


def git_rev(root: Path) -> str | None:
    if not (root / ".git").exists():
        return None
    try:
        out = subprocess.run(
            ["git", "-C", str(root), "rev-parse", "HEAD"],
            capture_output=True,
            text=True,
            timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def source_sha(root: Path) -> str:
    """Content hash of the program's sources: identifies the code under
    test where the checkout carries no git metadata."""
    h = hashlib.sha256()
    for p in sorted((root / "fuzzy_matcher_spark").rglob("*.py")):
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _peak_rss_kib(pid: int) -> int:
    """Peak resident set (VmHWM) of ``pid`` in KiB."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except (OSError, IndexError, ValueError):
        pass
    return 0


def _cpu_ticks(pid: int) -> int:
    """utime + stime of ``pid`` plus those of its reaped children."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return 0
    return sum(int(x) for x in fields[11:15])


def tree_cpu_s(pid: int) -> float:
    """CPU seconds used so far by ``pid`` and all of its descendants."""
    kids = _children()
    total, todo = 0, [pid]
    while todo:
        p = todo.pop()
        total += _cpu_ticks(p)
        todo.extend(kids.get(p, ()))
    return total / os.sysconf("SC_CLK_TCK")


def steal_counters() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def steal_ratio(since: tuple[int, int]) -> float:
    """Share of CPU time the hypervisor stole since ``since``."""
    steal, total = steal_counters()
    return (steal - since[0]) / max(total - since[1], 1)


def tree_peak_rss_mb(pid: int) -> float:
    """Peak resident memory of ``pid``'s process tree in MiB, read once
    at the end rather than sampled: the sum of every live descendant's
    own peak (VmHWM), plus the peak of the largest child already
    reaped (a finished spark-submit). Processes peak at different
    times, so this bounds the tree's peak from above."""
    kids = _children()
    total, todo = 0, [pid]
    while todo:
        p = todo.pop()
        total += _peak_rss_kib(p)
        todo.extend(kids.get(p, ()))
    total += resource.getrusage(resource.RUSAGE_CHILDREN).ru_maxrss
    return total / 1024
