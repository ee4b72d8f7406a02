"""Host record and peak-memory sampling for one benchmark run."""

from __future__ import annotations

import os
import platform
import subprocess
import threading


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_ticks() -> list[int]:
    """The host-wide ``cpu`` line of /proc/stat: user, nice, system,
    idle, iowait, irq, softirq, steal, ..."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    :func:`cpu_ticks` readings; a busy neighbour shows up here."""
    delta = [b - a for a, b in zip(before, after)]
    return 100 * delta[7] / max(1, sum(delta[:8]))


def java_version() -> str:
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    try:
        out = subprocess.run([java, "-version"], capture_output=True, text=True, timeout=30)
    except (OSError, subprocess.TimeoutExpired) as e:
        return f"unknown ({e})"
    return out.stderr.splitlines()[0] if out.stderr else "unknown"


def record() -> dict:
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "sched_cpus": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": java_version(),
    }


def _jvm_children(root: int) -> list[int]:
    """Child processes of ``root`` running ``java``: the driver's JVM."""
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        name, rest = stat[stat.index("(") + 1:].rsplit(")", 1)
        if int(rest.split()[1]) == root and name == "java":
            out.append(int(entry))
    return out


def driver_rss_mb(root: int) -> dict[str, float]:
    """Resident memory of the Python driver ``root`` and of its JVM, in MB
    by command name. Processes the JVM starts are left out: until it
    execs, a child the JVM forks shares the JVM's memory and would count
    it twice."""
    out: dict[str, float] = {}
    page = os.sysconf("SC_PAGE_SIZE")
    for pid in [root, *_jvm_children(root)]:
        try:
            with open(f"/proc/{pid}/statm") as f:
                rss = int(f.read().split()[1]) * page / 2**20
            with open(f"/proc/{pid}/comm") as f:
                name = f.read().strip()
        except OSError:
            continue
        out[name] = out.get(name, 0.0) + rss
    return out


class PeakRss:
    """Background sampler of :func:`driver_rss_mb` for this process."""

    def __init__(self, interval_s: float = 0.25) -> None:
        self.peak_mb = 0.0
        self.at_peak: dict[str, float] = {}
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="perfbench-rss", daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while True:
            by_name = driver_rss_mb(pid)
            if sum(by_name.values()) > self.peak_mb:
                self.peak_mb, self.at_peak = sum(by_name.values()), by_name
            if self._stop.wait(self._interval):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
