"""Session shape from the machine, peak memory from /proc, host context."""

from __future__ import annotations

import os
import threading
import time


def cores() -> int:
    return len(os.sched_getaffinity(0))


def total_ram_mb() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_mem() -> str:
    """JVM heap for local mode: 1 GiB, or an eighth of RAM when that is
    less. The inputs are small; a heap that reaches its cap early keeps the
    JVM's share of ``peak_pss_mb`` from depending on when G1 grows it."""
    return f"{int(min(1024, total_ram_mb() / 8))}m"


def configure_env(work: str) -> dict:
    """Point every scratch path of Spark, its JVM and its Python workers into
    ``work`` and size the session; returns the shape for the output."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    shape = {"cores": cores(), "driver_mem": driver_mem(),
             "ram_mb": round(total_ram_mb())}
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "SPARK_DRIVER_MEM": shape["driver_mem"],
        "SPARK_GRAFT_CPUS": str(shape["cores"]),
        "PYSPARK_SUBMIT_ARGS": (f"--driver-java-options -Djava.io.tmpdir={tmp} "
                                "pyspark-shell"),
    })
    return shape


def versions() -> dict:
    import numpy
    import pyarrow
    import pyspark

    return {"pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "numpy": numpy.__version__}


def _stats() -> dict[int, list[str]]:
    """The fields after the command name of every /proc/<pid>/stat."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                out[int(name)] = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
    return out


def _tree(root: int, stats: dict[int, list[str]]) -> set[int]:
    """``root`` and all its descendants."""
    tree, frontier = {root}, [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, f in stats.items() if int(f[1]) == p and c not in tree]
        tree.update(kids)
        frontier.extend(kids)
    return tree


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and all its
    descendants, counting exited children through their reaping parent.
    Time the hypervisor stole is not in it."""
    stats = _stats()
    ticks = sum(sum(int(x) for x in stats[pid][11:15])
                for pid in _tree(os.getpid(), stats) if pid in stats)
    return ticks / os.sysconf("SC_CLK_TCK")


def _tree_pss_kb(root: int) -> dict[str, int]:
    """Proportional set size of ``root`` and all its descendants, summed per
    command name. PSS splits shared pages among their sharers, so the
    workers forked from one daemon, and a transient fork of the JVM, do not
    count the same pages twice as summed RSS would."""
    out: dict[str, int] = {}
    for pid in _tree(root, _stats()):
        try:
            with open(f"/proc/{pid}/comm") as fh:
                name = fh.read().strip()
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                pss = next(int(line.split()[1]) for line in fh
                           if line.startswith("Pss:"))
        except (OSError, StopIteration):
            continue
        out[name] = out.get(name, 0) + pss
    return out


class PeakMemory:
    """Samples the summed PSS of this process tree (driver, JVM, Python
    workers) on a background thread; ``peak_mb`` is the largest sum seen
    since the last ``restart`` (set-up's transient peaks are not the op
    loop's)."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_kb = 0
        self.at_peak_kb: dict[str, int] = {}  # per command name at the peak
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()

    def restart(self) -> None:
        with self._lock:
            self.peak_kb, self.at_peak_kb = 0, {}

    def sample(self) -> None:
        by_name = _tree_pss_kb(os.getpid())
        total = sum(by_name.values())
        with self._lock:
            if total > self.peak_kb:
                self.peak_kb, self.at_peak_kb = total, by_name

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs, from /proc/stat: the share of
    time the hypervisor ran someone else on this VM's CPUs."""
    with open("/proc/stat") as fh:
        user, nice, system, idle, iowait, irq, softirq, steal = (
            int(x) for x in fh.readline().split()[1:9])
    return steal, user + nice + system + idle + iowait + irq + softirq + steal


def probe() -> dict:
    """The engine's ambient parallelism probe, timed; host context only."""
    from mapbox_vector_tile_java_spark.session import probe_effective_parallelism

    t0 = time.perf_counter()
    eff = probe_effective_parallelism(n_procs=cores(), rounds=1)
    return {"eff": eff, "probe_s": time.perf_counter() - t0}
