"""Host fitting, Spark session lifetime and whole-tree memory sampling.

Everything the benchmark writes lives under one work directory inside the
checkout, and every process it starts (the driver JVM and the Python workers
Spark forks from it) is a descendant of this process, so the resident-memory
sampler and the final shutdown both work on the process tree.
"""

from __future__ import annotations

import os
import shutil
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def host_settings() -> dict:
    """Cores from the affinity mask (what `nproc` prints), driver heap sized
    from /proc/meminfo: the engine's default heap (16g) exceeds a 15 GiB
    host, and the JVM and the Python workers share that memory."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    mem_gb = max(2, min(8, int(total_kb / 2**20 * 0.3)))
    return {"cores": cores, "mem_total_gb": round(total_kb / 2**20, 1),
            "driver_mem": f"{mem_gb}g"}


def prepare_env(work: str, settings: dict) -> None:
    """Export what the driver JVM and its Python workers inherit. Must run
    before the first session starts: SPARK_LOCAL_DIRS overrides
    spark.local.dir, and Arrow-UDF workers import the engine by PYTHONPATH."""
    for sub in ("local", "tmp", "eventlog"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    path = os.environ.get("PYTHONPATH", "")
    os.environ.update(
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        TMPDIR=os.path.join(work, "tmp"),
        PYTHONPATH=ROOT + (os.pathsep + path if path else ""),
        SPARK_GRAFT_CPUS=str(settings["cores"]),
        SPARK_DRIVER_MEM=settings["driver_mem"],
        PYSPARK_PYTHON=os.environ.get("PYSPARK_PYTHON", "python3"),
        # the short-lived JVM spark-submit runs to build the driver command
        SPARK_LAUNCHER_OPTS=f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp",
    )


def start_session(work: str, cores: int, event_log: bool = False):
    """A `local[cores]` session in the bench's shipped ingest configuration
    (shuffle partitions 4x cores, 32 MB scan splits), optionally with an
    uncompressed single-file event log for the layer fold."""
    from embulk_input_marketo_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.sql.files.maxPartitionBytes": str(32 * 1024 * 1024),
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed-size heap: with a growable one, when G1 expands the heap
        # depends on pause timing, and peak RSS swung ~40% between runs
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
            f"-Xms{os.environ['SPARK_DRIVER_MEM']}",
    }
    if event_log:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark("perfbench", cores=cores,
                      shuffle_partitions=4 * cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def event_log_path(work: str, app_id: str) -> str:
    d = os.path.join(work, "eventlog")
    name = next(p for p in os.listdir(d) if p.startswith(app_id))
    return os.path.join(d, name)


def shutdown_jvm() -> None:
    """Stop the gateway JVM this process launched and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the JVM exits when its stdin closes
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
                rest = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while we looked
        kids.setdefault(int(rest[1]), []).append(int(name))
    return kids


def _cmdline(pid: int) -> bytes:
    with open(f"/proc/{pid}/cmdline", "rb") as f:
        return f.read()


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of `root` and all its descendants. Spark forks its
    Python workers from one daemon, so their plain RSS would count the pages
    they share once per worker: small processes are read as proportional set
    size. The JVM shares no pages with the others, and its PSS would cost a
    walk of its whole heap's page table each sample, so it is read as RSS. A
    large child still running its parent's image is the JVM between fork and
    exec of a helper command, and is skipped."""
    kids = _children()
    page = os.sysconf("SC_PAGE_SIZE")
    total, todo = 0, [(root, None)]
    while todo:
        pid, parent = todo.pop()
        todo.extend((k, pid) for k in kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/statm") as f:
                rss = int(f.read().split()[1]) * page
            if rss < 512 * 2**20:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    rss = next(int(ln.split()[1]) for ln in f
                               if ln.startswith("Pss:")) * 1024
            elif parent is not None and _cmdline(pid) == _cmdline(parent):
                continue
        except (OSError, StopIteration):
            continue  # exited while we looked
        total += rss
    return total


class RssSampler:
    """Samples the process tree's resident memory every `interval` seconds
    on a daemon thread; `peak_mb` is the largest sum seen."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(me))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


class Clock:
    """Wall-clock window: `left()` is what remains of `seconds`."""

    def __init__(self, seconds: float):
        self.t0 = time.perf_counter()
        self.seconds = seconds

    def elapsed(self) -> float:
        return time.perf_counter() - self.t0

    def left(self) -> float:
        return self.seconds - self.elapsed()


def clean(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
