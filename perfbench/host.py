"""Host fingerprint and process-tree memory sampling, read from /proc."""

from __future__ import annotations

import os
import threading


def cpu_jiffies() -> list[int]:
    """Aggregate user..steal jiffies from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def mem_total_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def fingerprint(spark, jiffies_before: list[int], jiffies_after: list[int]) -> dict:
    """nproc, MemTotal, steal% and iowait% over the run, the resolved driver
    heap and GC flags, and the Spark version."""
    d = [b - a for a, b in zip(jiffies_before, jiffies_after)]
    tot = sum(d) or 1
    jvm = spark.sparkContext._jvm
    mf = jvm.java.lang.management.ManagementFactory
    args = list(mf.getRuntimeMXBean().getInputArguments())
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": round(mem_total_mb(), 1),
        "steal_pct": round(100.0 * d[7] / tot, 2),
        "iowait_pct": round(100.0 * d[4] / tot, 2),
        "driver_max_heap_mb": round(jvm.java.lang.Runtime.getRuntime().maxMemory() / 2**20, 1),
        "spark.driver.memory": spark.conf.get("spark.driver.memory", None),
        "gc_collectors": [b.getName() for b in mf.getGarbageCollectorMXBeans()],
        "jvm_flags": [a for a in args if a.startswith("-X")],
        "spark_version": spark.version,
        "master": spark.sparkContext.master,
    }


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # comm may hold spaces and parentheses: fields resume after the last ')'
        ppid = int(stat[stat.rfind(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Samples the summed RSS of a process and all its descendants (the
    driver JVM and the Python workers it forks) on a background thread."""

    def __init__(self, root_pid: int, interval_s: float = 0.5):
        self.root_pid = root_pid
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        kids = _children()
        todo, total = [self.root_pid], 0
        while todo:
            pid = todo.pop()
            total += _rss_kb(pid)
            todo.extend(kids.get(pid, ()))
        self.peak_kb = max(self.peak_kb, total)

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def __enter__(self):
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()
