"""Harness plumbing shared by every workload: the Spark session the
benchmark runs on, span tracing around public engine calls, and the
Spark runtime counters read from the driver.

Nothing here changes the engine. Tracing works by rebinding public
functions of ``orx_surgical_spark`` modules to timing wrappers for the
duration of a traced repetition and restoring them afterwards.
"""

from __future__ import annotations

import functools
import gc
import hashlib
import json
import os
import re
import sys
import time
from contextlib import contextmanager

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def heap_mb() -> int:
    """Driver heap sized to the box: a twelfth of MemTotal, clamped to
    [1, 2] GiB. The engine's own default (48g) exceeds the RAM of small
    boxes and gets the JVM OOM-killed; the inputs here are megabytes."""
    with open("/proc/meminfo") as f:
        total_kb = int(re.search(r"MemTotal:\s+(\d+)", f.read()).group(1))
    return max(1024, min(2048, total_kb // 1024 // 12))


def rss_peak_mb() -> float:
    """Peak resident set (VmHWM) of this process, in MB."""
    with open("/proc/self/status") as f:
        kb = int(re.search(r"VmHWM:\s+(\d+)", f.read()).group(1))
    return kb / 1024.0


def reset_rss_peak() -> None:
    """Reset this process's VmHWM to its current resident set."""
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def canary_s() -> float:
    """Fixed single-core CPU task (100k md5 digests); records how fast
    the box is when the run starts. Context only, never a metric."""
    t = time.perf_counter()
    for i in range(100_000):
        hashlib.md5(str(i).encode()).digest()
    return time.perf_counter() - t


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def prepare_env(work: str) -> None:
    """Process environment for Spark: temp files stay under ``work``
    and Python workers can import the engine from the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    paths = [REPO] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    if REPO not in sys.path:
        sys.path.insert(0, REPO)


def start_spark(work: str):
    """The engine's own session factory on ``local[nproc]`` with a
    heap sized to the box and every scratch directory under ``work``."""
    from orx_surgical_spark.session import get_spark

    n, heap = nproc(), heap_mb()
    return get_spark(
        app_name="perfbench",
        master=f"local[{n}]",
        shuffle_partitions=n,
        driver_memory=f"{heap}m",
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM
    (and with it the Python worker daemon) to exit."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


# ---------------------------------------------------------------------------
# Spark runtime counters
# ---------------------------------------------------------------------------

_UNITS_S = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_PY_METRIC = "time to run Python workers"


def _parse_timing(text: str) -> float:
    """Seconds from a formatted SQL timing metric: either ``"12 ms"``
    or ``"total (min, med, max ...)\\n1.5 s (...)"``."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = re.match(r"\s*([\d.,]+)\s*(ns|ms|s|m|h)\b", line)
    return float(m.group(1).replace(",", "")) * _UNITS_S[m.group(2)] if m else 0.0


class Counters:
    """Reads Spark's own counters from the driver: JMX GC time, SQL
    execution metrics and per-stage task data from the status store."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        mf = spark._jvm.java.lang.management.ManagementFactory
        self._jvm = spark._jvm
        self._gc_beans = mf.getGarbageCollectorMXBeans()
        self._heap = mf.getMemoryMXBean()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._store = self.sc._jsc.sc().statusStore()

    def gc_s(self) -> float:
        b = self._gc_beans
        return sum(b.get(i).getCollectionTime() for i in range(b.size())) / 1000.0

    def settle(self) -> float:
        """Drop cached tables and everything the last repetition left,
        and return the heap still in use: the driver JVM's live set, MB.

        Python's collection releases the py4j proxies that pin JVM
        objects; the first full JVM collection hands the repetition's
        checkpoint, shuffle and broadcast references to Spark's context
        cleaner, which removes their blocks on its own thread; the second
        frees what the cleaner let go. Without the Python collection and
        the pause the figure swung by ~50 MB between runs of the same
        inputs; with them it repeats within a few MB."""
        self.spark.catalog.clearCache()
        gc.collect()
        self._jvm.java.lang.System.gc()
        time.sleep(1.0)
        self._jvm.java.lang.System.gc()
        return self._heap.getHeapMemoryUsage().getUsed() / 2**20

    def sql_watermark(self) -> int:
        execs = self._sql.executionsList()
        return execs.size()

    def python_s_since(self, watermark: int) -> float:
        """Python-worker run time summed over the SQL executions that
        started after ``watermark`` (summed over tasks, not wall)."""
        execs = self._sql.executionsList()
        total = 0.0
        for i in range(watermark, execs.size()):
            e = execs.apply(i)
            ids = {
                m.accumulatorId()
                for m in (e.metrics().apply(j) for j in range(e.metrics().size()))
                if m.name() == _PY_METRIC
            }
            if not ids:
                continue
            it = self._sql.executionMetrics(e.executionId()).iterator()
            while it.hasNext():
                kv = it.next()
                if kv._1() in ids:
                    total += _parse_timing(kv._2())
        return total

    def job_stats(self, job_ids) -> dict[str, int]:
        """Tasks run and shuffle bytes written by the given jobs."""
        tracker = self.sc.statusTracker()
        tasks = shuffle = 0
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                try:
                    sd = self._store.lastStageAttempt(sid)
                except Exception:  # stage evicted from the status store
                    continue
                tasks += sd.numCompleteTasks()
                shuffle += sd.shuffleWriteBytes()
        return {"tasks": tasks, "shuffle_bytes": shuffle}


# ---------------------------------------------------------------------------
# Span tracing
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent, repetition id, Spark
    jobs). Each span runs its Spark jobs under its own job group, so the
    jobs a span launched are read back from ``statusTracker``."""

    def __init__(self, spark=None, active: bool = False):
        self.sc = spark.sparkContext if spark is not None else None
        self.active = active
        self.spans: list[dict] = []
        self.rep: int | None = None
        self._stack: list[int] = []
        self._patched: list[tuple] = []
        self._seq = 0

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield {}
            return
        idx = len(self.spans)
        self._seq += 1
        gid = f"perfbench-{os.getpid()}-{self._seq}"
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "rep": self.rep,
            "group": gid,
            "jobs": [],
        }
        self.spans.append(rec)
        self._stack.append(idx)
        if self.sc is not None:
            self.sc.setJobGroup(gid, name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                rec["jobs"] = sorted(self.sc.statusTracker().getJobIdsForGroup(gid))
                if self._stack:
                    parent = self.spans[self._stack[-1]]
                    self.sc.setJobGroup(parent["group"], parent["name"])
                else:
                    self.sc._jsc.clearJobGroup()

    def instrument(self, targets: dict[str, object]) -> None:
        """Rebind each function in ``targets`` (span name -> function)
        to a traced wrapper in every loaded engine module that holds it
        under any name; :meth:`restore` undoes it."""
        for name, fn in targets.items():
            wrapper = self._wrap(name, fn)
            for mod_name, mod in list(sys.modules.items()):
                if not mod_name.startswith("orx_surgical_spark") or mod is None:
                    continue
                for attr, val in list(vars(mod).items()):
                    if val is fn:
                        setattr(mod, attr, wrapper)
                        self._patched.append((mod, attr, fn))

    def restore(self) -> None:
        for mod, attr, fn in reversed(self._patched):
            setattr(mod, attr, fn)
        self._patched.clear()

    def _wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    # -- analysis ----------------------------------------------------------

    def children(self, idx: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == idx]

    def subtree_jobs(self, idx: int) -> list[int]:
        out = list(self.spans[idx]["jobs"])
        for i, s in enumerate(self.spans):
            if s["parent"] == idx:
                out += self.subtree_jobs(i)
        return out

    def self_times(self, rep: int) -> dict[str, float]:
        """Self time per layer (first dotted component of the span
        name) over one repetition: a span's duration minus the time its
        children cover. Spans run on one thread, so children never
        overlap and their durations add."""
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            if s["rep"] != rep:
                continue
            child = sum(c["end"] - c["start"] for c in self.children(i))
            layer = s["name"].split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + (s["end"] - s["start"]) - child
        return out

    def dump(self, path: str, extra: dict) -> None:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        spans = [
            {
                "name": s["name"],
                "start_s": round(s["start"] - t0, 6),
                "end_s": round(s["end"] - t0, 6),
                "parent": s["parent"],
                "rep": s["rep"],
                "jobs": len(s["jobs"]),
            }
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump({**extra, "spans": spans}, f, indent=1)
