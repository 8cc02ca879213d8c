"""Spark session, engine counters and process bookkeeping for the benchmark.

Everything the benchmark or Spark writes goes under ``<checkout>/.perfbench``:
Spark's local dirs, the JVM's and Python's temp dirs, job outputs and the
trace artifact. ``prepare_env`` must run before pyspark is imported.
"""
from __future__ import annotations

import os
import re
import sys
import tempfile
import threading
import time
from pathlib import Path

CORES = 4  # local[k] with k = nproc of the 4-core reference machine


def prepare_env(repo: Path, work: Path) -> None:
    """Point Python workers at the checkout and every temp dir into it."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None
    # Spark prefers this variable over spark.local.dir when it is set
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = str(repo) + (os.pathsep + path if path else "")
    if str(repo) not in sys.path:
        sys.path.insert(0, str(repo))


def start_session(work: Path):
    """``session.get_spark`` on local[CORES], with the benchmark's dirs."""
    from pdf_extractor_spark.session import get_spark

    import pdf_extractor_spark.functions.udfs as udfs

    # A pyspark UDF object keeps the JVM function it built for the first
    # session, bound to that session's accumulator server; after a restart
    # in the same process every task would log a broken-pipe error for it.
    for obj in vars(udfs).values():
        if hasattr(obj, "_unwrapped"):
            obj._unwrapped._judf_placeholder = None
    tmp = work / "tmp"
    return get_spark(
        app_name="perfbench",
        master=f"local[{CORES}]",
        extra_conf={
            "spark.local.dir": str(work / "spark-local"),
            "spark.driver.memory": "3g",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    )


def shutdown(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for both."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 - the JVM may already be gone
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - subprocess.TimeoutExpired
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    wait_descendants_gone(timeout=30)


# -- processes ---------------------------------------------------------------

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int | None = None) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid or os.getpid()]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def wait_descendants_gone(timeout: float) -> None:
    deadline = time.monotonic() + timeout
    while descendants() and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in descendants():
        try:
            os.kill(pid, 9)
        except OSError:
            pass
    while descendants() and time.monotonic() < deadline + 10:
        time.sleep(0.1)


def _python_workers() -> list[int]:
    out = []
    for pid in descendants():
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
            if b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd:
                out.append(pid)
        except OSError:
            continue
    return out


class WorkerRss:
    """Samples the peak resident set (VmHWM) of Spark's Python workers.

    VmHWM is the kernel's own high-water mark for each process, so a short
    spike between two samples is still seen; sampling only has to catch a
    worker before it exits. ``peak_mb`` is the largest value seen since
    ``start``."""

    def __init__(self, period: float = 0.5):
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _sample(self) -> None:
        for pid in _python_workers():
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            self.peak_kb = max(self.peak_kb, int(line.split()[1]))
                            break
            except OSError:
                continue

    def _run(self) -> None:
        while not self._stop.wait(self.period):
            self._sample()

    def start(self) -> None:
        self._sample()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def stop(self) -> float:
        self._stop.set()
        if self._thread is not None:
            self._thread.join()
        self._sample()
        return self.peak_kb / 1024.0


# -- Spark's own counters ----------------------------------------------------

_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}


def _parse_metric(kind: str, text: str) -> float:
    """A formatted SQL metric value as a number (bytes, ms or a count)."""
    # aggregated metrics read "total (min, med, max ...)\n<total> (...)"
    line = text.split("\n")[-1] if "\n" in text else text
    m = re.match(r"\s*([\d,.]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if kind == "size":
        return value * _UNITS.get(unit, 1)
    if kind in ("timing", "nsTiming"):
        return value * {"ms": 1, "s": 1000, "m": 60_000, "h": 3_600_000}.get(unit, 1)
    return value


class EngineCounters:
    """Spark jobs and SQL metrics of the work run under one job group."""

    NAMES = {
        "data sent to Python workers": "to_python_bytes",
        "data returned from Python workers": "from_python_bytes",
        "shuffle bytes written": "shuffle_write_bytes",
        "spill size": "spill_bytes",
    }

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._seen_exec = self._last_execution_id()

    def _last_execution_id(self) -> int:
        execs = self.spark._jsparkSession.sharedState().statusStore().executionsList()
        n = execs.size()
        return execs.apply(n - 1).executionId() if n else -1

    def begin(self, group: str) -> None:
        self.sc.setJobGroup(group, group)
        self._seen_exec = self._last_execution_id()

    def end(self, group: str) -> dict:
        """Jobs of ``group`` and the summed SQL metrics of the executions
        that ran since ``begin``."""
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        out = {"jobs": len(self.sc.statusTracker().getJobIdsForGroup(group))}
        out.update(dict.fromkeys(self.NAMES.values(), 0.0))
        store = self.spark._jsparkSession.sharedState().statusStore()
        execs = store.executionsList()
        for i in range(execs.size()):
            e = execs.apply(i)
            if e.executionId() <= self._seen_exec:
                continue
            values = store.executionMetrics(e.executionId())
            seen = set()
            it = e.metrics().iterator()
            while it.hasNext():
                m = it.next()
                key = self.NAMES.get(m.name())
                acc = m.accumulatorId()
                if key is None or acc in seen:
                    continue
                seen.add(acc)
                v = values.get(acc)
                if v.isDefined():
                    out[key] += _parse_metric(m.metricType(), v.get())
        return out
