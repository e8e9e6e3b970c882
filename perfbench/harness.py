"""Session set-up, process-tree RSS sampling and small timing helpers."""

from __future__ import annotations

import os
import statistics
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
ENGINE = "pdf_extractor_scripts_spark"
DRIVER_MEMORY = "4g"  # heap of the local driver; JVM + 4 workers stay < 6 GB


def cores() -> int:
    """Usable CPUs, as ``nproc`` reports them."""
    return len(os.sched_getaffinity(0))


def require_engine() -> None:
    """Fail fast when the checkout holds no engine source."""
    if not os.path.isfile(os.path.join(ROOT, ENGINE, "__init__.py")):
        raise SystemExit(f"perfbench: no {ENGINE}/ package under {ROOT}")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def prepare_env(run_dir: str) -> None:
    """Environment the JVM and its Python workers inherit: workers started
    by the JVM resolve the engine through PYTHONPATH, and every scratch
    file stays inside the checkout."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    # one string-hash seed in every run: set and dict iteration order in the
    # workers is then the same from run to run
    os.environ["PYTHONHASHSEED"] = "0"


def new_session(run_dir: str, app: str, event_log: str | None = None):
    """``local[nproc]`` session with the CLI's Arrow batch size and AQE
    settings (``__main__._session``) and a driver heap that fits the box.
    ``event_log`` turns on the uncompressed single-file event log."""
    from pyspark.sql import SparkSession

    n = cores()
    tmp = os.path.join(run_dir, "tmp")
    b = (
        SparkSession.builder.master(f"local[{n}]").appName(app)
        .config("spark.driver.memory", DRIVER_MEMORY)
        # the whole heap up front: a heap that grows during the first jobs
        # adds GC pauses that drift job times for several jobs
        .config("spark.driver.extraJavaOptions",
                f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        .config("spark.local.dir", os.path.join(run_dir, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(run_dir, "warehouse"))
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1000")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", event_log)
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_process(spark):
    """The driver JVM's ``Popen``; it outlives ``spark.stop()``."""
    return spark.sparkContext._gateway.proc


def stop_jvm(proc, timeout_s: float = 60.0) -> None:
    """End the driver JVM and wait for it. Closing its stdin is the
    gateway's shutdown signal; the Python workers exit with it."""
    from pyspark import SparkContext

    if SparkContext._gateway is not None:
        SparkContext._gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc.stdin:
        proc.stdin.close()
    try:
        proc.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


class RssSampler:
    """Peak resident set of a process tree (the driver JVM plus every
    Python worker it forks), sampled from /proc on a background thread.
    Children that still run the root's executable are left out: a JVM
    child that has not yet exec'd its command (Hadoop's local file system
    shells out for permissions) shares the JVM's memory and would count it
    twice."""

    def __init__(self, period_s: float = 1.0):
        self.period_s = period_s
        self.root_pid: int | None = None
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join(timeout=5)
        self.sample()

    def _loop(self) -> None:
        while not self._stop.wait(self.period_s):
            self.sample()

    def sample(self) -> None:
        if self.root_pid is None:
            return
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(name))
        root_exe = _exe(self.root_pid)
        total, todo = 0, [self.root_pid]
        while todo:
            pid = todo.pop()
            todo.extend(c for c in children.get(pid, ()) if _exe(c) != root_exe)
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
        self.peak_bytes = max(self.peak_bytes, total)


def _exe(pid: int) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


def force(df) -> None:
    """Run a DataFrame to completion without collecting it."""
    df.write.format("noop").mode("overwrite").save()


def timed(fn, *args, **kwargs):
    t0 = time.perf_counter()
    out = fn(*args, **kwargs)
    return out, time.perf_counter() - t0


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0

