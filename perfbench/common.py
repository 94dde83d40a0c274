"""Session start-up and small helpers shared by the perfbench workloads."""

from __future__ import annotations

import ctypes
import os
import shutil
import signal
import statistics
import subprocess
import time
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def cores() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(work: str, event_log_dir: str | None = None):
    """One local Spark session on every core of the host, with the
    settings of ``lotus_spark.session.get_spark`` (shuffle partitions =
    cores) except a 2 GB driver heap, a disabled UI and all scratch and
    temporary files inside ``work``. With ``event_log_dir`` it writes an
    uncompressed event log there."""
    # Python workers import the benchmark's own modules (the simulated
    # LM is pickled by reference), so they need the checkout on the path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # temporary files of the JVM and the Python workers stay in ``work``
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    from pyspark.sql import SparkSession

    n = cores()
    b = (SparkSession.builder.master(f"local[{n}]").appName("perfbench")
         .config("spark.sql.shuffle.partitions", str(n))
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
         .config("spark.sql.adaptive.skewJoin.enabled", "true")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.driver.memory", "2g")
         .config("spark.driver.extraJavaOptions",
                 f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.local.dir", os.path.join(work, "spark-local"))
         .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse")))
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false")
             .config("spark.eventLog.dir", "file://" + event_log_dir))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def adopt_orphans() -> None:
    """Make this process the reaper of every process it starts, directly
    or not, so a Python worker that outlives the JVM that forked it is
    re-parented here and can be waited for (Linux only; a no-op
    elsewhere)."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass  # PR_SET_CHILD_SUBREAPER is Linux-only


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait until the JVM
    has ended. ``SparkSession.stop`` alone leaves the JVM running until
    this process exits and closes its standard input."""
    from pyspark import SparkContext

    try:
        spark.stop()
    finally:
        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the gateway exits on end of input
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def descendants() -> list[int]:
    """Every process this one started, directly or not, still there."""
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    # "pid (comm) state ppid ...": comm may hold spaces
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    out, todo = [], [os.getpid()]
    while todo:
        p = todo.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += kids
        todo += kids
    return out


def end_children(grace_s: float = 10.0) -> None:
    """Stop every process this one started that is still there
    (SIGTERM, then SIGKILL after ``grace_s``) and reap each of them."""
    deadline = time.monotonic() + grace_s
    sig = signal.SIGTERM
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass
        left = descendants()
        if not left:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.1)


@dataclass
class Ctx:
    """What a workload gets: the session, its seed and size, a scratch
    directory, the tracer and the LM usage meter."""

    spark: object
    seed: int
    size: dict
    work: str
    tracer: object
    meter: object

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    return path


def timed(fn, *args, **kwargs) -> tuple[float, object]:
    t0 = time.perf_counter()
    out = fn(*args, **kwargs)
    return time.perf_counter() - t0, out


def median(xs) -> float:
    return float(statistics.median(xs))


def dir_files(path: str) -> dict[str, tuple[int, float]]:
    """``{file: (bytes, mtime)}`` for every data file under ``path``."""
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            if f.endswith(".crc"):
                continue
            p = os.path.join(d, f)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def parquet_column(path: str, col: str) -> list:
    """One column of a Spark-written parquet table, read without Spark.
    Like Spark's file index it skips names starting with ``_`` or ``.``,
    except partition directories (``__ivf_cell=3``)."""
    import pyarrow.parquet as pq

    out: list = []
    for d, dirs, files in os.walk(path):
        dirs[:] = [x for x in dirs if "=" in x or x[0] not in "_."]
        for f in sorted(files):
            if f.endswith(".parquet") and f[0] not in "_.":
                out += pq.read_table(os.path.join(d, f),
                                     columns=[col]).column(col).to_pylist()
    return out
