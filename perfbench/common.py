"""Shared plumbing for the CDC benchmark: Spark session, job accounting,
span tracing around the package's public entry points, memory and
environment stamps, percentiles."""

from __future__ import annotations

import json
import os
import shutil
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
SCHEMA = "shop"
SOURCE = "mariadb-source"


def make_workdir(name: str) -> str:
    path = os.path.join(WORK_ROOT, f"{name}-{os.getpid()}")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.join(path, "tmp"))
    return path


def start_session(work: str, cores: int):
    """The package's default session on local[cores]; only where its scratch
    files go is overridden, so that they all stay under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    from sample_dms_kinesis_rds_mariadb_spark import get_session

    return get_session(
        app_name="perfbench",
        cpus=cores,
        extra_conf={
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — last resort, never leave a JVM
            proc.kill()
            proc.wait()


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile, q in [0, 1]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("quantile of no values")
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


# -- memory -----------------------------------------------------------------

def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(c) for c in f.read().split()]
    except OSError:
        pass
    return out


def _jvm_pids() -> list[int]:
    """Java processes below this one (the py4j gateway JVM is launched
    through spark-submit, so it may sit one shell level down)."""
    found, stack = [], _children(os.getpid())
    while stack:
        pid = stack.pop()
        try:
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
        except OSError:
            continue
        if comm == "java":
            found.append(pid)
        else:
            stack += _children(pid)
    return found


def peak_rss_mb() -> tuple[float, float]:
    """Peak resident set (VmHWM) of this driver and of its JVM, in MB."""
    jvm = sum(_status_kb(p, "VmHWM") for p in _jvm_pids())
    return _status_kb(os.getpid(), "VmHWM") / 1024.0, jvm / 1024.0


def cpu_seconds() -> float:
    """CPU time (user + system) used so far by this process and its JVM.
    Time the hypervisor steals from the VM is not charged to a process, so
    unlike wall time this does not grow when other guests load the host."""
    t = os.times()
    total = t.user + t.system
    hz = os.sysconf("SC_CLK_TCK")
    for pid in _jvm_pids():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += (int(fields[11]) + int(fields[12])) / hz
    return total


def steal_ticks() -> tuple[int, int]:
    """(all, stolen) CPU ticks of the machine so far, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(v) for v in f.readline().split()[1:9]]
    return sum(ticks), ticks[7]


def env_stamp(cores: int, seed: int, workload: str) -> dict:
    import pyarrow
    import pyspark

    return {
        "workload": workload,
        "seed": seed,
        "nproc": os.cpu_count(),
        "session_cores": cores,
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "loadavg_start": os.getloadavg(),
    }


# -- Spark job accounting ---------------------------------------------------

class JobCounter:
    """Jobs submitted so far, from ``statusTracker`` job ids. Streaming
    micro-batch jobs run under the query's run id as job group, so the
    groups of every query seen are polled too; job ids are sequential, so
    the highest id seen + 1 counts every job started."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.tracker = spark.sparkContext.statusTracker()
        self.groups: set[str] = set()
        self._lock = threading.Lock()

    def __call__(self) -> int:
        with self._lock:
            for q in self.spark.streams.active:
                self.groups.add(str(q.runId))
            ids = list(self.tracker.getJobIdsForGroup(None))
            for g in self.groups:
                ids += list(self.tracker.getJobIdsForGroup(g))
        return max(ids) + 1 if ids else 0


# -- tracing ----------------------------------------------------------------

class Tracer:
    """Spans kept in memory around public calls into each layer. A span
    records name, start, end, its parent span, the micro-batch epoch it ran
    in (if any), the Spark jobs it started and an optional count. The
    bookkeeping time itself is summed as ``overhead_s``."""

    def __init__(self, jobs: JobCounter) -> None:
        self.jobs = jobs
        self.spans: list[dict] = []
        self.overhead_s = 0.0
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []
        self._lock = threading.Lock()

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def span(self, name: str, fn, *args, epoch=None, count=None, **kwargs):
        t0 = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else None
        sp = {
            "name": name,
            "parent": parent["id"] if parent else None,
            "epoch": epoch if epoch is not None else (parent or {}).get("epoch"),
            "jobs0": self.jobs(),
        }
        with self._lock:
            sp["id"] = len(self.spans)
            self.spans.append(sp)
        stack.append(sp)
        sp["start"] = t1 = time.perf_counter()
        try:
            result = fn(*args, **kwargs)
        finally:
            t2 = time.perf_counter()
            stack.pop()
            sp["end"] = t2
            sp["jobs"] = self.jobs() - sp["jobs0"]
            t3 = time.perf_counter()
            with self._lock:
                self.overhead_s += (t1 - t0) + (t3 - t2)
        if count is not None:
            sp["count"] = count(result)
        return result

    def wrap(self, cls, method: str, name: str, count=None) -> None:
        orig = getattr(cls, method)
        tracer = self

        def traced(*args, **kwargs):
            return tracer.span(name, orig, *args, count=count, **kwargs)

        setattr(cls, method, traced)
        self._patches.append((cls, method, orig))

    def wrap_foreach_batch(self) -> None:
        """Route every ``foreachBatch`` function through a span that carries
        the epoch id, so the spans of one micro-batch share it."""
        from pyspark.sql.streaming import DataStreamWriter

        orig = DataStreamWriter.foreachBatch
        tracer = self

        def foreach_batch(writer, func):
            def traced(batch_df, epoch_id):
                return tracer.span("task.batch", func, batch_df, epoch_id,
                                   epoch=epoch_id)

            return orig(writer, traced)

        DataStreamWriter.foreachBatch = foreach_batch
        self._patches.append((DataStreamWriter, "foreachBatch", orig))

    def unwrap(self) -> None:
        for cls, method, orig in reversed(self._patches):
            setattr(cls, method, orig)
        self._patches.clear()

    def reset(self) -> None:
        """Drop spans recorded so far (set-up calls before a timed phase)."""
        with self._lock:
            self.spans.clear()
            self.overhead_s = 0.0

    # -- summaries --------------------------------------------------------
    def closed(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and "end" in s]

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.closed(name))

    def self_time(self, name: str) -> float:
        """Summed span time minus the part covered by direct children."""
        child_time: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None and "end" in s:
                child_time[s["parent"]] = (
                    child_time.get(s["parent"], 0.0) + s["end"] - s["start"]
                )
        return sum(
            s["end"] - s["start"] - child_time.get(s["id"], 0.0)
            for s in self.closed(name)
        )

    def dump(self, path: str) -> None:
        """Write the spans (times relative to the first span) as JSON."""
        t0 = min((s["start"] for s in self.spans), default=0.0)
        with open(path, "w") as f:
            json.dump([
                dict(s, start=s["start"] - t0, end=s.get("end", s["start"]) - t0)
                for s in self.spans
            ], f)


class ProgressLog:
    """StreamingQueryListener keeping every progress event in memory, with
    the CPU time used so far (``cpu_seconds``) when it arrived."""

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        log = self
        self.events: list[dict] = []
        self.cpu: list[float] = []

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                log.cpu.append(cpu_seconds())
                log.events.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.spark = spark
        self.listener = _Listener()
        spark.streams.addListener(self.listener)

    def clear(self) -> None:
        self.events.clear()
        self.cpu.clear()

    def close(self) -> None:
        self.spark.streams.removeListener(self.listener)


def emit(correct: bool, attempted: int, failed: int, metrics: dict) -> None:
    print(json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {
            k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()
        },
    }), flush=True)
