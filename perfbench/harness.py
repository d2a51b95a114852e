"""Session, sampling and tracing plumbing shared by every workload.

Everything the benchmark writes goes under ``.bench_work/`` at the
repository root (temp files, Spark local dirs, event logs, pipeline
output, the span file), so a run touches nothing outside its checkout.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import threading
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_work")
DRIVER_MEMORY = "2g"


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: str) -> None:
    """Point every temp location of Python and the JVMs into ``work``
    and make the package importable by the Python workers."""
    import tempfile

    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # when set, this variable overrides spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = os.environ.get("PYSPARK_PYTHON", "python3")


def start_spark(work: str, n_cpus: int, event_log: bool):
    """``local[n_cpus]`` session sized for a small shared box."""
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.master(f"local[{n_cpus}]")
        .appName("perfbench")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.sql.shuffle.partitions", str(2 * n_cpus))
        .config("spark.default.parallelism", str(n_cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.driver.extraJavaOptions",
                # a fixed heap: no resizing while the timed loop runs
                f"-Xms{DRIVER_MEMORY} "
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
                f"-Dderby.system.home={os.path.join(work, 'derby')}")
    )
    if event_log:
        events = os.path.join(work, "events")
        os.makedirs(events, exist_ok=True)
        b = b.config("spark.eventLog.enabled", "true") \
             .config("spark.eventLog.dir", "file://" + events) \
             .config("spark.eventLog.compress", "false")
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:  # a JVM that will not exit is killed
            proc.kill()
            proc.wait()


# --- host sampling ---------------------------------------------------------

def cpu_ticks() -> tuple[int, int]:
    """(steal_ticks, total_ticks) from the aggregate /proc/stat line."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def _children() -> dict[int, list[int]]:
    out: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        out.setdefault(int(fields[1]), []).append(int(stat.split("/")[2]))
    return out


def descendants_rss_mb() -> float:
    """Summed RSS of every process below this one: the driver JVM and
    the Python workers it forks."""
    tree, page = _children(), os.sysconf("SC_PAGE_SIZE")
    todo, total = list(tree.get(os.getpid(), [])), 0
    while todo:
        pid = todo.pop()
        todo.extend(tree.get(pid, []))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
    return total / 2**20


class Sampler:
    """Peak descendant RSS and steal fraction over a window.  A scan of
    ``/proc`` holds the interpreter lock for a few milliseconds, which
    the single-client query loop would wait on; two scans a second keep
    that below one per cent."""

    def __init__(self, period_s: float = 0.5):
        self.period_s = period_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, descendants_rss_mb())
            self._stop.wait(self.period_s)

    def __enter__(self):
        self.steal0 = cpu_ticks()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        s1, t1 = cpu_ticks()
        s0, t0 = self.steal0
        self.steal_frac = (s1 - s0) / (t1 - t0) if t1 > t0 else 0.0


# --- spans -----------------------------------------------------------------

class Tracer:
    """In-memory spans (name, start, end, parent, run id, counts),
    written once by :meth:`dump`. Disabled, a span costs one call."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id, self.enabled = run_id, enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **counts):
        if not self.enabled:
            yield counts
            return
        rec = {"id": len(self.spans), "name": name, "run": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.monotonic(), "end": None, "counts": counts}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield counts
        finally:
            self._stack.pop()
            rec["end"] = time.monotonic()

    def durations(self, name: str, since: int = 0) -> list[float]:
        """Durations of the spans called ``name`` opened at or after
        index ``since``."""
        return [s["end"] - s["start"] for s in self.spans[since:] if s["name"] == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


@contextmanager
def job_group(spark, name: str):
    """Tag every Spark job started inside with ``name``."""
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


# --- event log -------------------------------------------------------------

def event_log_summary(work: str) -> dict[str, dict]:
    """Per job group: jobs, tasks, executor run time, GC time, shuffle
    bytes and spill, summed from the (stopped) session's event log."""
    groups: dict[str, dict] = {}
    stage_group: dict[int, str] = {}

    def g(name: str) -> dict:
        return groups.setdefault(name, dict.fromkeys(
            ("jobs", "tasks", "run_s", "gc_s", "shuffle_read", "shuffle_write",
             "spill"), 0))

    for path in sorted(glob.glob(os.path.join(work, "events", "**", "events_*"),
                                 recursive=True)):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    grp = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if grp:
                        g(grp)["jobs"] += 1
                elif kind == "SparkListenerStageSubmitted":
                    grp = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if grp:
                        stage_group[ev["Stage Info"]["Stage ID"]] = grp
                elif kind == "SparkListenerTaskEnd":
                    grp = stage_group.get(ev["Stage ID"])
                    m = ev.get("Task Metrics")
                    if grp is None or not m:
                        continue
                    acc = g(grp)
                    acc["tasks"] += 1
                    acc["run_s"] += m["Executor Run Time"] / 1000
                    acc["gc_s"] += m["JVM GC Time"] / 1000
                    r = m["Shuffle Read Metrics"]
                    acc["shuffle_read"] += r["Remote Bytes Read"] + r["Local Bytes Read"]
                    acc["shuffle_write"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                    acc["spill"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
    return groups
