"""Host facts and memory sampling, read from ``/proc`` (no psutil)."""

from __future__ import annotations

import os
import threading


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def descendants(root: int) -> list[int]:
    """Every live process below ``root`` (the Spark JVM and its Python
    workers, for a benchmark process)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        for kid in children.get(todo.pop(), []):
            out.append(kid)
            todo.append(kid)
    return out


def resident_bytes(pids: list[int]) -> int:
    """Summed resident memory. The Spark JVM counts its resident set
    from ``statm``, which costs the same at any heap size (reading its
    ``smaps_rollup`` walks the whole heap's page tables, tens of
    milliseconds under the JVM's own memory-map lock). Every other
    process counts its proportional set size, so the pages a forked
    Python worker shares with its parent count once in total."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/comm") as fh:
                is_jvm = fh.read().strip() == "java"
            if is_jvm:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * page
                continue
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass  # the process ended between listing and reading
    return total


def cpu_seconds(pids: list[int]) -> float:
    """User plus system CPU time of ``pids`` and of their reaped children."""
    ticks = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # the process ended between listing and reading
        total += sum(int(f) for f in fields[11:15])
    return total / ticks


def host_cpu_ticks() -> tuple[int, int]:
    """(all, stolen) CPU ticks of the machine so far, from ``/proc/stat``;
    stolen ticks are time the hypervisor gave this machine's CPUs to
    other guests."""
    with open("/proc/stat") as fh:
        fields = [int(f) for f in fh.readline().split()[1:]]
    return sum(fields[:8]), fields[7]


class PeakRss:
    """Samples the summed resident memory of this process's descendants
    on a background thread; ``peak_mb`` is the highest sum seen."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while True:
            self.peak = max(self.peak, resident_bytes(descendants(me)))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak / (1 << 20)


def facts(spark) -> dict:
    """nproc, the engine's CPU setting and the pyspark and Java versions."""
    import pyspark

    return {
        "nproc": cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
    }
