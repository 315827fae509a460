"""Process-level plumbing shared by the workloads: environment, Spark
session lifetime, peak-RSS sampling and operation accounting."""

from __future__ import annotations

import os
import signal
import statistics
import subprocess
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", "_work")
PACKAGE = "debezium_connector_spanner_spark"
CORES = 4


def prepare_environment() -> None:
    """Keep every file the run writes inside the checkout, and make the
    package importable in Spark's Python workers whatever the cwd is."""
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))


def start_session(master: str = f"local[{CORES}]", event_log_dir: str | None = None):
    from debezium_connector_spanner_spark import get_spark

    conf = {
        # a small heap: the benchmark shares its host, and the inputs are
        # tens of MB
        "spark.driver.memory": "2g",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    else:
        # a later session in the same JVM inherits the launch-time conf
        conf["spark.eventLog.enabled"] = "false"
    spark = get_spark(
        app_name="perfbench", master=master, shuffle_partitions=2 * CORES, extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int | None = None) -> list[int]:
    kids = _children()
    out, todo = [], [pid or os.getpid()]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


class RssSampler:
    """Peak of the summed resident memory of this process and every
    descendant (the JVM, the PySpark daemon and its Python workers),
    sampled from /proc. Each process counts its proportional share (PSS),
    so pages a forked Python worker shares with the daemon count once."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _sample(self) -> None:
        pids = [os.getpid()] + descendants()
        self.peak_bytes = max(self.peak_bytes, sum(_pss_bytes(p) for p in pids))

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def start(self) -> "RssSampler":
        self._sample()
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak_bytes / (1024 * 1024)


def stop_session(spark, timeout_s: float = 30.0) -> None:
    """Stop Spark, shut the JVM gateway down and wait for every process
    this run started to exit."""
    from pyspark import SparkContext

    procs = descendants()
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=timeout_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=timeout_s)
        SparkContext._gateway = None
        SparkContext._jvm = None
    alive = _wait_gone(procs, timeout_s)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    _wait_gone(alive, 5.0)


def _wait_gone(pids: list[int], timeout_s: float) -> list[int]:
    deadline = time.monotonic() + timeout_s
    while True:
        alive = [p for p in pids if os.path.exists(f"/proc/{p}") and not _zombie(p)]
        if not alive or time.monotonic() > deadline:
            return alive
        time.sleep(0.1)


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


class Ops:
    """Operations attempted and failed. An operation is a replay, a read,
    a query or a correctness check."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def record(self, name: str, ok: bool, detail: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"{name}: {detail}" if detail else name)
        return ok


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def timed(fn, *args, **kwargs):
    t0 = time.monotonic()
    out = fn(*args, **kwargs)
    return out, time.monotonic() - t0
