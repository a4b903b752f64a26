"""Host-sized Spark session, resource sampling and the closed loop.

Everything here is the same on every commit the benchmark compares: the
session is sized from the host (cores from the CPU affinity mask, driver
heap from physical RAM) rather than from the package's defaults, and every
result carries the host fingerprint it was measured on.
"""

import os
import platform
import signal
import statistics
import threading
import time
from dataclasses import dataclass, field

MIB = 1024 * 1024


def host_ram_bytes() -> int:
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    for p in ("/sys/fs/cgroup/memory.max",
              "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
        try:
            with open(p) as f:
                raw = f.read().strip()
        except OSError:
            continue
        if raw.isdigit():
            ram = min(ram, int(raw))
    return ram


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory_mb(ram_bytes: int) -> int:
    """A quarter of RAM for the driver heap (executors share it in local
    mode), in 256 MiB steps: the JVM then spills instead of growing past
    what the host has, and the rest stays for Python workers and the OS."""
    return max(1024, ram_bytes // 4 // MIB // 256 * 256)


def session_conf(work: str, traced: bool) -> dict:
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        # -XX:-UsePerfData: no hsperfdata file outside the checkout
        "spark.driver.extraJavaOptions":
            "-XX:-UsePerfData -Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if traced:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
        })
    return conf


def prepare_env(root: str, work: str) -> dict:
    """Process environment for the JVM and its Python workers; returns the
    sizing it chose."""
    for d in ("spark-local", "tmp", "events"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    ram = host_ram_bytes()
    mem_mb = driver_memory_mb(ram)
    cpus = host_cpus()
    os.environ["SPARK_DRIVER_MEMORY"] = f"{mem_mb}m"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = root + (os.pathsep + path if path else "")
    return {"cpus": cpus, "ram_mb": ram // MIB, "driver_memory_mb": mem_mb}


def fingerprint(spark, sizing: dict) -> dict:
    import pyspark
    conf = spark.sparkContext.getConf()
    keys = ("spark.master", "spark.driver.memory", "spark.sql.shuffle.partitions",
            "spark.sql.adaptive.enabled", "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            "spark.eventLog.enabled")
    return {"nproc": sizing["cpus"], "ram_mb": sizing["ram_mb"],
            "pyspark": pyspark.__version__, "python": platform.python_version(),
            "conf": {k: conf.get(k, None) for k in keys}}


def start_session(cpus: int, conf: dict):
    """Create the session and run a first trivial job through a Python
    worker; returns (spark, seconds taken)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from geospatialtools_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", cpus=cpus, extra_conf=conf)

    @F.pandas_udf("long")
    def plus_one(s: pd.Series) -> pd.Series:
        return s + 1

    try:
        spark.range(1).select(plus_one("id")).collect()
    except BaseException:
        stop_session(spark)
        raise
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop Spark and the JVM behind it, and wait until every process the
    session started (the JVM, its Python daemon and workers) has exited."""
    from pyspark import SparkContext
    started = descendants(os.getpid())
    gw = SparkContext._gateway
    spark.stop()
    try:
        if gw is not None:
            _stop_gateway(gw)
    finally:
        deadline = time.monotonic() + 30
        for pid in started:
            while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
                time.sleep(0.05)
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass                # exited, as it should have


def _stop_gateway(gw) -> None:
    from pyspark import SparkContext
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()      # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


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
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def tree_rss_bytes(pid: int) -> int:
    """Resident bytes of every descendant of ``pid`` (the JVM, its Python
    daemon and workers), not counting ``pid`` itself."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for p in descendants(pid):
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass
    return total


class RssSampler:
    """Background thread keeping the peak of ``tree_rss_bytes``."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(me))
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


@dataclass
class Loop:
    """Outcome of a closed loop: every attempted repetition is counted; a
    repetition that raised or failed its output check is a failure."""
    attempted: int = 0
    failed: int = 0
    walls: list[float] = field(default_factory=list)
    rows: list[int] = field(default_factory=list)
    errors: list[str] = field(default_factory=list)

    @property
    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0

    @property
    def rows_per_s(self) -> float:
        return statistics.median(r / w for r, w in zip(self.rows, self.walls))


def fatal(exc: BaseException) -> bool:
    """True when the JVM is gone (killed, e.g. by the OOM killer): no later
    repetition can run."""
    from py4j.protocol import Py4JNetworkError
    return isinstance(exc, (ConnectionError, Py4JNetworkError))


def closed_loop(rep, check, seconds: float, min_reps: int = 1,
                between=None) -> Loop:
    """Run ``rep`` back to back until ``seconds`` have passed (at least
    ``min_reps`` times). ``rep()`` returns (rows, outputs); ``check(outputs)``
    runs outside the timed region and returns a list of problems;
    ``between()``, if given, cleans up after each repetition, also untimed."""
    loop = Loop()
    t_end = time.perf_counter() + seconds
    while loop.attempted < min_reps or time.perf_counter() < t_end:
        if loop.attempted and between is not None:
            between()
        loop.attempted += 1
        t0 = time.perf_counter()
        try:
            rows, outputs = rep()
        except Exception as exc:    # a failed repetition is a result
            loop.failed += 1
            loop.errors.append(f"rep {loop.attempted}: {exc!r}"[:500])
            if fatal(exc):
                break
            continue
        wall = time.perf_counter() - t0
        try:
            problems = check(outputs)
        except Exception as exc:
            problems = [f"check raised {exc!r}"]
        if problems:
            loop.failed += 1
            loop.errors.append(f"rep {loop.attempted}: " + "; ".join(problems))
            continue
        loop.walls.append(wall)
        loop.rows.append(rows)
    return loop


STEADY = 0.15       # consecutive warm-up walls this close count as steady


def warm_up(rep, max_reps: int = 3) -> list[float]:
    """Repeat ``rep`` until two consecutive walls agree within ``STEADY``
    (JIT, codegen caches and the Python worker pool settled), at most
    ``max_reps`` times; returns the walls."""
    walls: list[float] = []
    while len(walls) < max_reps:
        t0 = time.perf_counter()
        rep()
        walls.append(time.perf_counter() - t0)
        if len(walls) >= 2 and abs(walls[-1] - walls[-2]) <= STEADY * walls[-2]:
            break
    return walls
