"""Host-relative Spark session and /proc readers (no psutil).

Everything here sizes itself from the machine it runs on: ``local[nproc]``,
a driver heap well below physical RAM, and every scratch directory Spark
or the JVM would otherwise put under /tmp redirected into the benchmark's
work directory inside the checkout.
"""

from __future__ import annotations

import os
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def phys_mem_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 4096


def driver_heap_mb() -> int:
    # a tenth of physical RAM, between 1 and 1.5 GiB: the inputs are small,
    # and the JVM, the Python workers and the driver share the host
    return max(1024, min(1536, phys_mem_mb() // 10))


def session_settings() -> dict[str, str]:
    n = nproc()
    tmp = os.path.join(WORK, "tmp")
    return {
        "spark.master": f"local[{n}]",
        "spark.app.name": "s2geo_spark-perfbench",
        "spark.driver.memory": f"{driver_heap_mb()}m",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.sql.shuffle.partitions": str(n),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "131072",
        "spark.sql.files.maxPartitionBytes": "8m",
        "spark.python.worker.reuse": "true",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }


def prepare_env() -> None:
    """Point every temp directory at WORK before Spark or tempfile run."""
    tmp = os.path.join(WORK, "tmp")
    for d in (tmp, os.path.join(WORK, "spark-local")):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    # workers import the package from the checkout, not from a zip in /tmp
    pp = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp else "")


def start_spark():
    from pyspark.sql import SparkSession

    b = SparkSession.builder
    for k, v in session_settings().items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


# ---------------------------------------------------------------------------
# /proc readers
# ---------------------------------------------------------------------------

def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            try:
                with open(f"/proc/{pid}/task/{tid}/children") as f:
                    out.extend(int(c) for c in f.read().split())
            except OSError:
                pass
    except OSError:
        pass
    return out


def process_tree() -> list[int]:
    """This process and every descendant: the JVM and its Python workers."""
    seen, stack = [], [os.getpid()]
    while stack:
        p = stack.pop()
        seen.append(p)
        stack.extend(_children(p))
    return seen


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _is_java(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip() == "java"
    except OSError:
        return False


def _pss_kb(pid: int) -> int:
    """Proportional resident set: a page shared by n processes counts 1/n,
    so the forked Python workers' pages shared with their daemon, and
    shared libraries, are not counted once per process."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return _status_kb(pid, "VmRSS:")


def tree_rss_breakdown() -> dict:
    """Resident MB (PSS) of this process, the JVM and the Python workers."""
    me = os.getpid()
    out = {"driver_mb": 0.0, "jvm_mb": 0.0, "workers_mb": 0.0, "workers": 0}
    for p in process_tree():
        mb = _pss_kb(p) / 1024.0
        if p == me:
            out["driver_mb"] += mb
        elif _is_java(p):
            out["jvm_mb"] += mb
        elif mb > 0:
            out["workers_mb"] += mb
            out["workers"] += 1
    return out


class RssSampler:
    """Background sampler of the tree's summed RSS; its maximum is the
    simultaneous peak, kept with the breakdown at that moment."""

    def __init__(self, period_s: float = 1.0):
        import threading

        self.period_s = period_s
        self.peak_mb = 0.0
        self.at_peak: dict = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self):
        b = tree_rss_breakdown()
        total = b["driver_mb"] + b["jvm_mb"] + b["workers_mb"]
        if total > self.peak_mb:
            self.peak_mb, self.at_peak = total, b

    def _loop(self):
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.period_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()


_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def _cpu_ticks(pid: int) -> int:
    """user + system time of a process, its threads and its reaped children."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return 0
    # fields[0] is the state (field 3 of the line): utime, stime, cutime,
    # cstime are fields 14-17
    return sum(int(v) for v in fields[11:15])


def tree_cpu_s() -> float:
    """CPU seconds used so far by the driver, the JVM and the Python
    workers. Time the hypervisor steals, and time spent waiting for a core
    other processes hold, are not counted, so on a shared host it is far
    steadier than wall time."""
    return _TICK_S * sum(_cpu_ticks(p) for p in process_tree())


def cpu_snapshot() -> tuple[int, int]:
    """(steal jiffies, total jiffies) from the aggregate /proc/stat line."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals[:8])


def loadavg_1m() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


class HostWindow:
    """CPU seconds, steal% and 1-minute load over one operation's window."""

    # steal above this share, or a load above 1.5x the cores, marks the
    # window noisy; noisy windows are flagged and kept
    STEAL_NOISY_PCT = 5.0

    def __init__(self):
        self.t0 = time.perf_counter()
        self.s0 = cpu_snapshot()
        self.cpu0 = tree_cpu_s()

    def close(self) -> dict:
        cpu = tree_cpu_s() - self.cpu0
        s1 = cpu_snapshot()
        ds, dt = s1[0] - self.s0[0], s1[1] - self.s0[1]
        steal = 100.0 * ds / dt if dt > 0 else 0.0
        load = loadavg_1m()
        return {
            "cpu_s": cpu,
            "steal_pct": round(steal, 2),
            "load_1m": load,
            "noisy": steal > self.STEAL_NOISY_PCT or load > 1.5 * nproc(),
        }
