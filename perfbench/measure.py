"""Measurement helpers: the Spark session, peak RSS and small statistics."""

from __future__ import annotations

import os
import subprocess
import threading
import time
from statistics import median


def build_session(work: str, cores: int, *, event_log: str | None = None):
    """A ``local[cores]`` session from the engine's own
    ``fess_ds_s3_spark.session.build_session``, with a 2 GB driver and
    every file Spark writes kept under ``work`` (the caller also points
    ``SPARK_LOCAL_DIRS`` there before the JVM starts)."""
    from fess_ds_s3_spark.session import build_session as engine_session

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    extra = {
        # no perf-data file in /tmp
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "wh"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log is not None:
        os.makedirs(event_log, exist_ok=True)
        extra.update({"spark.eventLog.enabled": "true",
                      "spark.eventLog.dir": event_log,
                      "spark.eventLog.compress": "false",
                      "spark.eventLog.rolling.enabled": "false"})
    spark = engine_session(cores, app_name="perfbench", driver_memory="2g",
                           extra=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(c) for c in fh.read().split())
    except OSError:
        pass
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


class PeakRss:
    """Samples, on a background thread while in the ``with`` block, the
    RSS of the driver JVM plus every process below it (the Python worker
    daemon and the workers it forks); ``peak_mb`` is the largest sample.

    The JVM has many threads, so its direct children are looked up only
    every ``RESCAN`` samples; the processes below them every sample."""

    INTERVAL_S = 0.1
    RESCAN = 20

    def __init__(self, root_pid: int):
        self.root_pid = root_pid
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample_mb(self, root_children: list[int]) -> float:
        total, stack, seen = _rss_kb(self.root_pid), list(root_children), set()
        while stack:
            pid = stack.pop()
            if pid in seen:
                continue
            seen.add(pid)
            total += _rss_kb(pid)
            stack.extend(_children(pid))
        return total / 1024.0

    def _run(self) -> None:
        n, kids = 0, []
        while True:
            if n % self.RESCAN == 0:
                kids = _children(self.root_pid)
            n += 1
            self.peak_mb = max(self.peak_mb, self.sample_mb(kids))
            if self._stop.wait(self.INTERVAL_S):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb,
                           self.sample_mb(_children(self.root_pid)))


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._gateway.proc.pid)


def stop_session(spark) -> None:
    """Stop Spark, close the Py4J gateway (so no finalizer talks to a dead
    JVM at exit), then end the driver JVM (it exits when its stdin
    closes) and wait for it."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


class Stopwatch:
    def __init__(self):
        self.t0 = time.perf_counter()

    def __call__(self) -> float:
        return time.perf_counter() - self.t0


def med(values) -> float:
    values = list(values)
    return float(median(values)) if values else 0.0
