"""Machine sizing, Spark sessions, set-up cycles and memory sampling.

Everything the benchmark writes goes under `perfbench/.work` (scratch,
emptied per run) or `perfbench/.cache` (generated inputs, kept across
runs): the JVM temp dir, Spark's local and warehouse dirs, and the py4j
connection files all point there, so a run reads and writes only inside
its checkout.
"""

from __future__ import annotations

import os
import statistics
import threading
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
WORK = BENCH_DIR / ".work"
CACHE = BENCH_DIR / ".cache"

SETUP_CYCLES = 3


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory() -> str:
    """Driver heap sized from the box: a sixth of RAM, 1-4 GiB. Local-mode
    executors live inside this JVM; the inputs here are tens of MB."""
    with open("/proc/meminfo") as f:
        kb = int(f.readline().split()[1])
    return f"{max(1, min(4, kb // (6 << 20)))}g"


def prepare_env() -> None:
    """Point temp dirs at the checkout and let Python workers import both
    the library and the benchmark's own modules. Must run before the
    first JVM launch, which inherits this environment."""
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    import sys

    sys.path[:0] = [p for p in (str(ROOT), str(BENCH_DIR))
                    if p not in sys.path]
    paths = [str(ROOT), str(BENCH_DIR)]
    if os.environ.get("PYTHONPATH"):
        paths.append(os.environ["PYTHONPATH"])
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    import tempfile

    tempfile.tempdir = str(tmp)


def versions() -> dict:
    import numpy
    import pyarrow
    import pyspark

    return {"nproc": nproc(), "spark": pyspark.__version__,
            "pyarrow": pyarrow.__version__, "numpy": numpy.__version__,
            "driver_memory": driver_memory()}


def start_session(cores: int):
    from sgp_sketch.session import get_spark

    tmp = WORK / "tmp"
    spark = get_spark(
        "perfbench", master=f"local[{cores}]", shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": driver_memory(),
            "spark.local.dir": str(WORK / "spark-local"),
            "spark.sql.warehouse.dir": str(WORK / "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                f"-Dderby.system.home={WORK / 'derby'}",
            "spark.ui.showConsoleProgress": "false",
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _import_library(batches):
    import pyarrow as pa

    import sgp_sketch.agg  # noqa: F401  (numpy, kernels, registry)

    for b in batches:
        yield pa.RecordBatch.from_arrays([pa.array([b.num_rows], pa.int64())],
                                         names=["n"])


def warm(spark) -> None:
    """Fork one Python worker per core and import the library in each:
    one Arrow task per core."""
    cores = spark.sparkContext.defaultParallelism
    spark.range(0, cores, 1, cores).mapInArrow(_import_library,
                                               "n long").collect()


def setup(cores: int, tracer):
    """SETUP_CYCLES × (session start + worker warm-up); the last session
    is kept. The first cycle also launches the JVM; later cycles restart
    the SparkContext in it, which re-forks and re-imports every worker.
    Returns (spark, start seconds per cycle, warm seconds per cycle)."""
    starts, warms = [], []
    spark = None
    for i in range(SETUP_CYCLES):
        if spark is not None:
            spark.stop()
        with tracer.span("session.start", "session") as sp:
            spark = start_session(cores)
        starts.append(sp.seconds)
        with tracer.span("session.warm", "session") as sp:
            warm(spark)
        warms.append(sp.seconds)
    return spark, starts, warms


def switch_cores(spark, cores: int):
    """Restart the SparkContext at another core count (same JVM)."""
    spark.stop()
    spark = start_session(cores)
    warm(spark)
    return spark


def median_setup(starts, warms) -> float:
    return statistics.median(s + w for s, w in zip(starts, warms))


class RssSampler:
    """Peak summed RSS of this process and all its descendants (the JVM
    and the Python workers it forks), sampled from /proc every 50 ms while
    active. Only processes named java or python* count: a child caught
    between fork and exec still carries a copy of its parent's RSS under
    the forking thread's name."""

    def __init__(self, interval: float = 0.05):
        self.interval = interval
        self.peak = 0
        self.peak_parts: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = None
        self._page = os.sysconf("SC_PAGE_SIZE")

    def tree_rss(self) -> dict[str, int]:
        """Summed RSS bytes of the java and python processes of the
        process tree, by command name."""
        children: dict[int, list[int]] = {}
        rss: dict[int, int] = {}
        comm: dict[int, str] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    stat = f.read()
                with open(f"/proc/{name}/statm") as f:
                    pages = int(f.read().split()[1])
            except (FileNotFoundError, ProcessLookupError, IndexError,
                    ValueError):
                continue
            ppid = int(stat.rsplit(")", 1)[1].split()[1])
            pid = int(name)
            comm[pid] = stat[stat.index("(") + 1:stat.rindex(")")]
            children.setdefault(ppid, []).append(pid)
            rss[pid] = pages * self._page
        parts: dict[str, int] = {}
        todo = [os.getpid()]
        while todo:
            pid = todo.pop()
            kind = "self" if pid == os.getpid() else comm.get(pid, "?")
            if kind in ("self", "java") or kind.startswith("python"):
                parts[kind] = parts.get(kind, 0) + rss.get(pid, 0)
            todo.extend(children.get(pid, ()))
        return parts

    def _sample(self):
        parts = self.tree_rss()
        total = sum(parts.values())
        if total > self.peak:
            self.peak, self.peak_parts = total, parts

    def _run(self):
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def __enter__(self):
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()
        return False


def calibration(spark) -> dict:
    """The repository's fixed-work machine gauge (bench.calibration_probe),
    imported unchanged."""
    import bench

    return bench.calibration_probe(spark)
