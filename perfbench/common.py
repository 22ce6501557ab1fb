"""Shared plumbing: checkout layout, environment, Spark session, process-tree
memory sampling and statistics."""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import threading
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
# scratch space inside the checkout; every run uses and removes its own subdir
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
# span files of traced runs are kept here for inspection
OUT_DIR = os.path.join(ROOT, ".perfbench_out")
# driver heap of every Spark process the benchmark starts; it is committed
# and touched at start (-Xms = -Xmx, AlwaysPreTouch), so run-to-run changes
# in how far the JVM grows its heap do not show up as timing noise
DRIVER_MEM = "2g"


def have_package() -> bool:
    return os.path.isfile(os.path.join(ROOT, "assignment_etl_spark", "__init__.py"))


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def make_workdir(tag: str) -> str:
    path = os.path.join(WORK_ROOT, f"{tag}-{os.getpid()}")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.join(path, "tmp"))
    return path


def spark_env(work: str) -> dict[str, str]:
    """Environment for this process and every Spark process it starts: the
    engine's own knobs, and every temporary path kept inside ``work``."""
    tmp = os.path.join(work, "tmp")
    return {
        "SPARK_GRAFT_CPUS": str(cpus()),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": tmp,
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
            f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch' "
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"
        ),
    }


def start_spark(app: str, extra_conf: dict[str, str] | None = None):
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    from assignment_etl_spark.session import get_spark

    spark = get_spark(app, extra_conf=extra_conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait until every process the
    session started has exited."""
    gateway = spark.sparkContext._gateway
    jvm = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if jvm is not None:
        jvm.stdin.close()
        jvm.wait()
    while len(tree_pids(os.getpid())) > 1:
        time.sleep(0.1)


def release(spark, frames=()) -> int:
    """Drop every cache an operation left behind; returns how many scoped
    persists the engine's registry released."""
    from assignment_etl_spark.caching import release_scoped_caches

    for df in frames:
        df.unpersist()
    n = release_scoped_caches()
    spark.catalog.clearCache()
    return n


# ------------------------------------------------------------ memory


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pids(root: int) -> list[int]:
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class TreeRss:
    """Samples the summed RSS of a process tree every ``period`` seconds
    on a daemon thread; ``peak_mb`` is the highest sum seen."""

    def __init__(self, root: int, period: float = 0.2) -> None:
        self.root = root
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.period)

    def sample(self) -> None:
        total = sum(_rss_kb(p) for p in tree_pids(self.root))
        self.peak_kb = max(self.peak_kb, total)

    def __enter__(self) -> "TreeRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


# ------------------------------------------------------------ numbers


def pct(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return statistics.median(values)


class Clock:
    def __init__(self) -> None:
        self.t0 = time.perf_counter()

    def elapsed(self) -> float:
        return time.perf_counter() - self.t0
