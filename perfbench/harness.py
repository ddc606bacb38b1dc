"""Shared plumbing for the workloads: run environment, engine start, the
operation log, memory sampling and result comparison.

Everything a run writes (parquet inputs, Spark local and warehouse
directories, temp files, the trace) lives under one scratch directory
inside ``<root>/.perfbench/`` and is removed when the run ends.
"""

from __future__ import annotations

import math
import os
import platform
import shutil
import tempfile
import threading
from dataclasses import dataclass, field

# Driver heap: the engine's default (24g) is sized for a large host; the
# benchmark runs the whole engine in one local JVM on small boxes.
DRIVER_HEAP = "4g"
YOUNG_GEN = "1g"


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def env_stamp() -> dict:
    """What the numbers depend on, sampled before any engine work."""
    cpus = nproc()
    try:
        load1 = os.getloadavg()[0]
    except OSError:
        load1 = None
    per_cpu = None if load1 is None else load1 / cpus
    return {
        "nproc": cpus,
        "spark_graft_cpus": cpus,
        "driver_heap": DRIVER_HEAP,
        "load1_before": load1,
        "load_per_cpu_before": per_cpu,
        # load guard: a busy box inflates every timing uniformly
        "load_ok": per_cpu is not None and per_cpu < 0.5,
        "python": platform.python_version(),
        "machine": platform.machine(),
    }


class RunDirs:
    """Scratch space for one run under ``<root>/.perfbench/``."""

    def __init__(self, root: str):
        base = os.path.join(root, ".perfbench")
        os.makedirs(base, exist_ok=True)
        self.path = tempfile.mkdtemp(prefix="run-", dir=base)
        self.tmp = self.sub("tmp")
        self.local = self.sub("spark-local")
        self.warehouse = self.sub("warehouse")

    def sub(self, name: str) -> str:
        p = os.path.join(self.path, name)
        os.makedirs(p, exist_ok=True)
        return p

    def remove(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


def configure_env(root: str, dirs: RunDirs) -> None:
    """Process environment the engine and its Python workers need. Must
    run before the first pyspark import launches the JVM."""
    cpus = str(nproc())
    # Spark's Python workers (Kafka fetch tasks) import the engine package
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(
        os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    os.environ["SPARK_LOCAL_DIRS"] = dirs.local
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_HEAP
    os.environ["SPARK_GRAFT_DRIVER_JAVA_OPTS"] = (
        f"-XX:+UseParallelGC -Xmn{YOUNG_GEN} -Djava.io.tmpdir={dirs.tmp} "
        f"-Dderby.system.home={dirs.tmp} -XX:-UsePerfData")
    # also for spark-submit's launcher JVM, which takes no driver options
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={dirs.tmp}")
    os.environ["TMPDIR"] = dirs.tmp
    tempfile.tempdir = dirs.tmp


def start_spark(dirs: RunDirs, extra: dict[str, str] | None = None):
    from materialize_spark.session import get_spark
    conf = {"spark.sql.warehouse.dir": dirs.warehouse,
            # keep every job's record for the traced run's job counts
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000"}
    conf.update(extra or {})
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the engine and wait for its JVM process to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is None:
        return
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except Exception:  # noqa: BLE001 - fall back to killing it
        proc.kill()
        proc.wait(timeout=30)


def duckdb_connect():
    """An in-memory DuckDB for the oracles. Extensions are neither
    fetched nor loaded implicitly, and the extension directory points into
    the run's temp directory."""
    import duckdb
    return duckdb.connect(config={
        "autoinstall_known_extensions": False,
        "autoload_known_extensions": False,
        "extension_directory": os.path.join(tempfile.gettempdir(),
                                            "duckdb-extensions"),
    })


def copy_tables(src: str, dst: str) -> str:
    """A private copy of a generated table directory: the engine caches
    loaded tables per directory, so every set-up gets fresh tables."""
    os.makedirs(dst, exist_ok=True)
    for name in os.listdir(src):
        shutil.copyfile(os.path.join(src, name), os.path.join(dst, name))
    return dst


# -- operation log -----------------------------------------------------------
@dataclass
class Op:
    kind: str
    start: float
    end: float
    ok: bool
    error: str | None = None
    value: object = None
    wire: bool = True   # sent over pgwire (vs. a direct engine call)
    timed: bool = True  # False for warm-up operations (checked, not timed)


@dataclass
class OpLog:
    """Every operation of a run, in order; warm-up ones are untimed."""
    ops: list[Op] = field(default_factory=list)

    def add(self, kind: str, start: float, end: float, ok: bool,
            error: str | None = None) -> Op:
        op = Op(kind, start, end, ok, error)
        self.ops.append(op)
        return op

    def timed(self) -> list[Op]:
        return [o for o in self.ops if o.timed]

    def failed(self) -> int:
        return sum(1 for o in self.ops if not o.ok)


# -- memory --------------------------------------------------------------------
def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


class RssSampler:
    """Samples the resident memory of the Python driver plus the JVM every
    ``interval`` seconds on a background thread; ``stop()`` joins it."""

    def __init__(self, pids: list[int], interval: float = 0.25):
        self.pids = pids
        self.interval = interval
        self.samples: list[float] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        self.samples.append(sum(_rss_mb(p) for p in self.pids))

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def start(self) -> "RssSampler":
        self._sample()
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()

    def peak(self) -> float:
        return max(self.samples) if self.samples else 0.0


# -- result comparison -------------------------------------------------------
def _cell(v):
    """Canonical form of one result cell: numbers as floats, booleans as
    't'/'f', everything else as its string."""
    if v is None:
        return None
    if isinstance(v, bool):
        return "t" if v else "f"
    if isinstance(v, (int, float)):
        return float(v)
    s = str(v)
    try:
        return float(s)
    except ValueError:
        return s


def _sort_key(row):
    # floats sort numerically at 9 significant digits, so values equal
    # within the comparison tolerance stay adjacent
    return tuple((0, 0.0, "") if c is None else
                 (1, float(f"{c:.9g}"), "") if isinstance(c, float) else
                 (2, 0.0, c) for c in row)


def canonical(rows) -> list[tuple]:
    out = [tuple(_cell(c) for c in r) for r in rows]
    out.sort(key=_sort_key)
    return out


def same_rows(got, want, rel: float = 1e-6) -> bool:
    """Multiset equality of two row lists, floats within ``rel``."""
    a, b = canonical(got), canonical(want)
    if len(a) != len(b):
        return False
    for ra, rb in zip(a, b):
        if len(ra) != len(rb):
            return False
        for x, y in zip(ra, rb):
            if isinstance(x, float) and isinstance(y, float):
                if not math.isclose(x, y, rel_tol=rel, abs_tol=rel):
                    return False
            elif x != y:
                return False
    return True

