"""Host record and process-tree CPU / memory readings (Linux ``/proc``)."""

from __future__ import annotations

import os
import platform
import subprocess
import sys
import threading

_TICK = os.sysconf("SC_CLK_TCK")


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


def tree_pids() -> list[int]:
    """This process and all its descendants."""
    kids = _children()
    out, todo = [], [os.getpid()]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def tree_cpu_s() -> float:
    """CPU seconds (user + system, including reaped children) of the
    process tree rooted here: the benchmark, the JVM and Python workers."""
    total = 0
    for p in tree_pids():
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += sum(int(x) for x in fields[11:15])
        except (OSError, IndexError, ValueError):
            continue
    return total / _TICK


def system_cpu_s() -> tuple[float, float]:
    """(busy, steal) CPU seconds of the whole machine since boot: busy is
    every non-idle, non-steal state."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    idle = v[3] + v[4]
    steal = v[7] if len(v) > 7 else 0
    guest = sum(v[8:10])  # already counted in user/nice
    return (sum(v) - idle - steal - guest) / _TICK, steal / _TICK


def tree_pss() -> dict[str, float]:
    """Proportional resident MB (PSS: a page shared by n processes counts
    1/n in each) of the process tree rooted here, by command name. Plain
    RSS would count the JVM twice while it forks a Python worker."""
    out: dict[str, float] = {}
    for p in tree_pids():
        try:
            with open(f"/proc/{p}/comm") as f:
                name = f.read().strip()
            with open(f"/proc/{p}/smaps_rollup") as f:
                kb = next(int(ln.split()[1]) for ln in f if ln.startswith("Pss:"))
        except (OSError, StopIteration, IndexError, ValueError):
            continue
        out[name] = out.get(name, 0.0) + kb / 1024
    return out


class MemSampler:
    """Background sampler of the process tree's proportional resident memory;
    ``peak_mb`` is the largest total seen and ``peak_by_process`` its split
    by command name. Start/stop it around the measured window."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self.peak_by_process: dict[str, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        split = tree_pss()
        total = sum(split.values())
        if total > self.peak_mb:
            self.peak_mb, self.peak_by_process = total, split

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def __enter__(self) -> MemSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()


def git_commit(root: str) -> str:
    if not os.path.isdir(os.path.join(root, ".git")):
        return "unknown"
    try:
        r = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=False,
        )
        return r.stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def cpu_model() -> str:
    try:
        with open("/proc/cpuinfo") as f:
            for line in f:
                if line.startswith("model name"):
                    return line.split(":", 1)[1].strip()
    except OSError:
        pass
    return platform.processor() or "unknown"


def host_record(spark, seed: int, root: str) -> dict:
    """Where and how a result was measured. ``compare.py`` refuses to pair
    results whose ``HOST_KEYS`` differ."""
    import pyspark

    sc = spark.sparkContext
    return {
        "host": platform.node(),
        "cpu_model": cpu_model(),
        "nproc": os.cpu_count(),
        "spark_master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "spark_version": pyspark.__version__,
        "python_version": sys.version.split()[0],
        "seed": seed,
        "git_commit": git_commit(root),
    }


HOST_KEYS = (
    "host",
    "cpu_model",
    "nproc",
    "spark_master",
    "default_parallelism",
    "shuffle_partitions",
    "spark_version",
    "python_version",
)
