"""Host-side measurements: CPU seconds and peak memory of the Spark driver's
process tree (the Python driver, its JVM and the JVM's Python workers),
a fixed CPU spin probe that flags contended passes, and the stamps
every result carries."""

from __future__ import annotations

import hashlib
import os
import platform
import subprocess
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, float] | None:
    """(ppid, cpu seconds incl. reaped children) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    # fields[0] is state; ppid, utime, stime, cutime, cstime follow
    return int(fields[1]), sum(int(x) for x in fields[11:15]) / _TICK


def tree_pids(root: int | None = None) -> list[int]:
    root = root or os.getpid()
    parent = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st:
                parent[int(name)] = st[0]
    out, frontier = [root], [root]
    while frontier:
        kids = [p for p, pp in parent.items() if pp in frontier]
        out += kids
        frontier = kids
    return out


def tree_cpu_s() -> float:
    """CPU seconds consumed so far by this process and its descendants."""
    return sum(st[1] for st in map(_stat, tree_pids()) if st)


def tree_peak_rss_mb() -> float:
    """Sum of each live tree process's peak resident set (VmHWM)."""
    total = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            continue
    return total / 1024.0


def steal_s() -> float:
    """CPU seconds the hypervisor has taken from this machine's CPUs since
    boot (the ``steal`` column of /proc/stat; 0 where there is none)."""
    try:
        with open("/proc/stat") as fh:
            fields = fh.readline().split()
    except OSError:
        return 0.0
    return int(fields[8]) / _TICK if len(fields) > 8 else 0.0


def spin_s() -> float:
    """A fixed single-core CPU task; its time only varies with contention."""
    t0 = time.perf_counter()
    x = 0
    for i in range(300_000):
        x += i * i
    return time.perf_counter() - t0


def code_digest(root: str) -> str:
    """Hash of the engine's Python sources: identifies the code measured
    when the checkout carries no git metadata."""
    h = hashlib.sha256()
    paths = [os.path.join(root, "__spark_entry__.py")]
    for base, dirs, files in os.walk(os.path.join(root, "davar_lab_ocr_spark")):
        dirs.sort()
        paths += [os.path.join(base, f) for f in sorted(files) if f.endswith(".py")]
    for p in paths:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def git_sha(root: str) -> str:
    if not os.path.exists(os.path.join(root, ".git")):
        return "none"
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        )
    except OSError:
        return "none"
    return out.stdout.strip() if out.returncode == 0 else "none"


def stamps(root: str, spark) -> dict:
    import pyarrow
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg": os.getloadavg(),
        "git_sha": git_sha(root),
        "code_digest": code_digest(root),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
    }
