"""Host facts recorded with every run, and the memory probe.

A run is never dropped for a busy host; it is flagged ``tainted`` with the
reason, so every run made stays in the record.
"""

from __future__ import annotations

import hashlib
import os
import platform
import subprocess
import sys

#: a run during which other processes used more than this share of the
#: machine's CPU is flagged tainted: on a 4-core Xeon VM the operations of
#: this benchmark ran about 25% slower at 0.10 than at 0.05
TAINT_FOREIGN_SHARE = 0.08


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def source_digest(root: str) -> str:
    """sha256 over the engine package's source files, so a result names the
    code it measured even in a checkout that is not a git repository."""
    h = hashlib.sha256()
    pkg = os.path.join(root, "dedup_gpu_stream_parallelism_spark")
    for dirpath, dirnames, filenames in os.walk(pkg):
        dirnames.sort()
        for fn in sorted(filenames):
            if fn.endswith(".py"):
                p = os.path.join(dirpath, fn)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def git_sha(root: str) -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def facts(root: str) -> dict:
    import pyspark

    return {
        "nproc": nproc(),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "git_sha": git_sha(root),
        "source_sha256": source_digest(root),
        "executable": sys.executable,
    }


def cpu_jiffies() -> tuple[int, int]:
    """(busy, steal) jiffies of the whole machine since boot."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    user, nice, system, idle, iowait, irq, softirq, steal = v
    return user + nice + system + irq + softirq, steal


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and all its descendants: the
    Spark JVM and its Python workers, live or already reaped."""
    hz = os.sysconf("SC_CLK_TCK")
    t = os.times()
    total = t.user + t.system + t.children_user + t.children_system
    for pid in _descendants():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except FileNotFoundError:
            continue
        # utime, stime, cutime, cstime: each CPU second is counted once,
        # in the process that used it or in the one that reaped it
        total += sum(int(x) for x in fields[11:15]) / hz
    return total


def foreign_cpu_share(start: tuple, end: tuple, own_s: float, wall_s: float,
                      cores: int) -> float:
    """Share of the machine's CPU capacity over the run that other
    processes used or the hypervisor stole."""
    hz = os.sysconf("SC_CLK_TCK")
    busy = (end[0] - start[0]) / hz
    steal = (end[1] - start[1]) / hz
    return max(0.0, busy - own_s + steal) / (wall_s * cores)


def taint(foreign_share: float) -> list[str]:
    """Reasons to distrust a run's timings.  The 1-minute loadavg before a
    run still carries the previous back-to-back run, so it is reported but
    only CPU used by others during the run taints it."""
    return (
        [f"other processes used {foreign_share:.0%} of the CPU during the run"]
        if foreign_share > TAINT_FOREIGN_SHARE else []
    )


def _children(pid: int) -> list[int]:
    kids: list[int] = []
    task_dir = f"/proc/{pid}/task"
    try:
        tids = os.listdir(task_dir)
    except FileNotFoundError:
        return kids
    for tid in tids:
        try:
            with open(f"{task_dir}/{tid}/children") as f:
                kids.extend(int(x) for x in f.read().split())
        except FileNotFoundError:
            continue
    return kids


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except FileNotFoundError:
        pass
    return 0


def _descendants() -> list[int]:
    seen: list[int] = []
    stack = _children(os.getpid())
    while stack:
        pid = stack.pop()
        if pid not in seen:
            seen.append(pid)
            stack.extend(_children(pid))
    return seen


def engine_peak_rss_mb() -> float:
    """Σ VmHWM over every descendant of this process: the Spark JVM, the
    Python worker daemon and its forked workers (the driver's own Python
    process is excluded)."""
    return sum(_vm_hwm_kb(pid) for pid in _descendants()) / 1024.0
