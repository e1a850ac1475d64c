"""Run-level plumbing shared by the workloads: environment pinning, the
Spark session and its teardown, status-store counters, a ``/proc``
sampler, in-memory spans and the result line.

Nothing here reaches into engine internals: counters come from Spark's
own status store (``AppStatusStore``) and ``/proc``, read from outside.
"""

from __future__ import annotations

import json
import os
import platform
import shutil
import statistics
import sys
import threading
import time
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUNS_DIR = os.path.join(ROOT, ".bench_run")
_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def cpu_count() -> int:
    """Cores this process may run on (``nproc`` without OMP_NUM_THREADS)."""
    return len(os.sched_getaffinity(0))


def process_age_s() -> float:
    """Seconds since this process was created (``/proc/self/stat`` field 22)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / _CLK_TCK


def quantile(values, q: float) -> float:
    """Linear-interpolated quantile (``q`` in [0, 1]); NaN when empty."""
    xs = sorted(values)
    if not xs:
        return float("nan")
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return statistics.median(values) if values else float("nan")


class RunDir:
    """Fresh per-run directory tree for inputs, checkpoints, sinks and
    Spark's local dirs; removed on close (traces are kept elsewhere)."""

    def __init__(self, workload: str, seed: int) -> None:
        self.path = os.path.join(RUNS_DIR, f"{workload}-s{seed}-{os.getpid()}-{uuid.uuid4().hex[:6]}")
        os.makedirs(self.path)

    def sub(self, *parts: str) -> str:
        p = os.path.join(self.path, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


def pin_environment(run: RunDir, cpus: int) -> None:
    """Set the env the engine, the JVM and the Python workers read at start."""
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = run.sub("spark-local")
    os.environ["TMPDIR"] = run.sub("tmp")
    # every JVM spark-submit starts (launcher and driver): scratch in the
    # run dir, and no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={run.sub('tmp')}"
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    # pandas deprecation chatter from PySpark's Arrow serializer, per batch
    os.environ["PYTHONWARNINGS"] = "ignore::FutureWarning"


def environment_record() -> dict:
    import pyspark

    return {
        "nproc": cpu_count(),
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "loadavg": list(os.getloadavg()),
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
    }


def start_spark(run: RunDir):
    """The engine's tuned session, with its warehouse inside the run dir."""
    from spark_stream_analyzer_spark import get_spark

    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": run.sub("warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_spark(spark) -> None:
    """Stop the context, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - last resort so no JVM outlives the run
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


class StatusCounters:
    """Scheduler counters from Spark's status store for jobs after a mark.

    ``stageList`` is called with all 5 arguments: Py4J cannot apply the
    Scala defaults.
    """

    FIELDS = (
        "spark.jobs",
        "spark.stages",
        "spark.tasks",
        "spark.executor_run_ms",
        "spark.executor_cpu_ms",
        "spark.shuffle_read_bytes",
        "spark.shuffle_write_bytes",
        "spark.spill_bytes",
    )

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._jvm = self._sc._jvm
        self._store = self._sc._jsc.sc().statusStore()

    def last_job_id(self) -> int:
        jobs = self._store.jobsList(self._jvm.java.util.ArrayList())
        return max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1)

    def since(self, mark: int, group: str | None = None) -> dict:
        """Totals over jobs with id > ``mark`` (and in ``group`` if given)."""
        jobs = self._store.jobsList(self._jvm.java.util.ArrayList())
        stage_ids: set[int] = set()
        n_jobs = 0
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if j.jobId() <= mark:
                continue
            if group is not None:
                g = j.jobGroup()
                if not g.isDefined() or g.get() != group:
                    continue
            n_jobs += 1
            ids = j.stageIds()
            stage_ids.update(ids.apply(k) for k in range(ids.size()))
        stages = self._store.stageList(
            self._jvm.java.util.ArrayList(),
            False,
            False,
            self._sc._gateway.new_array(self._jvm.double, 0),
            self._jvm.java.util.ArrayList(),
        )
        tot = dict.fromkeys(self.FIELDS, 0)
        tot["spark.jobs"] = n_jobs
        for i in range(stages.size()):
            s = stages.apply(i)
            if s.stageId() not in stage_ids:
                continue
            tot["spark.stages"] += 1
            tot["spark.tasks"] += s.numCompleteTasks()
            tot["spark.executor_run_ms"] += s.executorRunTime()
            tot["spark.executor_cpu_ms"] += s.executorCpuTime() / 1e6
            tot["spark.shuffle_read_bytes"] += s.shuffleReadBytes()
            tot["spark.shuffle_write_bytes"] += s.shuffleWriteBytes()
            tot["spark.spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        return tot


def _children(pid: int) -> list[int]:
    try:
        with open(f"/proc/{pid}/task/{pid}/children") as f:
            return [int(x) for x in f.read().split()]
    except OSError:
        return []


def _tree(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(_children(p))
    return out


def _proc_sample(pid: int) -> tuple[float, int] | None:
    """(cpu seconds, rss bytes) of one process, its reaped children not
    included: the sampler sees those itself, so counting them would count
    them twice."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            st = f.read().rsplit(")", 1)[1].split()
        with open(f"/proc/{pid}/statm") as f:
            rss_pages = int(f.read().split()[1])
    except (OSError, IndexError, ValueError):
        return None
    # fields 14-15 (utime, stime) sit at 11-12 after the name
    cpu = (int(st[11]) + int(st[12])) / _CLK_TCK
    return cpu, rss_pages * _PAGE


class ProcSampler:
    """Samples CPU seconds and RSS of this process tree (the benchmark, the
    JVM and its Python workers) every ``period`` seconds on a thread. A
    process that exits between two samples loses at most one period of
    CPU time."""

    def __init__(self, period: float = 0.25) -> None:
        self._period = period
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._cpu: dict[int, float] = {}
        self._peak_rss = 0
        self._thread = threading.Thread(target=self._loop, name="perfbench-proc", daemon=True)

    def _sample(self) -> None:
        rss = 0
        with self._lock:
            for pid in _tree(os.getpid()):
                s = _proc_sample(pid)
                if s is not None:
                    self._cpu[pid] = max(self._cpu.get(pid, 0.0), s[0])
                    rss += s[1]
            self._peak_rss = max(self._peak_rss, rss)

    def _loop(self) -> None:
        while not self._stop.wait(self._period):
            self._sample()

    def start(self) -> "ProcSampler":
        self._sample()
        self._thread.start()
        return self

    def cpu_mark(self) -> dict[int, float]:
        """Per-process CPU seconds now, for :meth:`window`."""
        self._sample()
        with self._lock:
            return dict(self._cpu)

    def window(self, mark: dict[int, float]) -> dict:
        """CPU seconds of the tree since ``mark`` and peak RSS so far."""
        self._sample()
        with self._lock:
            cpu = sum(c - mark.get(pid, 0.0) for pid, c in self._cpu.items())
            return {"proc.cpu_s": cpu, "proc.peak_rss_mb": self._peak_rss / 2**20}

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


class Spans:
    """In-memory spans sharing one run id; written out once at the end."""

    def __init__(self, workload: str, seed: int) -> None:
        self.run_id = uuid.uuid4().hex
        self.workload, self.seed = workload, seed
        self.spans: list[dict] = []
        self._next = 0

    def new_id(self) -> str:
        self._next += 1
        return f"{self._next:05d}"

    def add(self, name: str, start: float, end: float, parent: str | None = None,
            sid: str | None = None, **attrs) -> str:
        sid = sid or self.new_id()
        self.spans.append(
            {"id": sid, "name": name, "start": start, "end": end, "parent": parent, **attrs}
        )
        return sid

    def span(self, name: str, parent: str | None = None, **attrs) -> "_SpanCtx":
        return _SpanCtx(self, name, parent, attrs)

    def write(self, extra: dict) -> str:
        out_dir = os.path.join(RUNS_DIR, "traces")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"{self.workload}-s{self.seed}-{self.run_id[:8]}.json")
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "workload": self.workload, "seed": self.seed,
                       "spans": self.spans, **extra}, f, indent=1, default=str)
        return path


class _SpanCtx:
    def __init__(self, spans: Spans, name: str, parent: str | None, attrs: dict) -> None:
        self._spans, self._name, self._parent, self._attrs = spans, name, parent, attrs
        self.id = spans.new_id()
        self.seconds = 0.0

    def __enter__(self) -> "_SpanCtx":
        self._t0, self._p0 = time.time(), time.perf_counter()
        return self

    def __exit__(self, *exc) -> bool:
        # duration from the monotonic clock; start/end stay epoch times so
        # spans line up with progress timestamps and file mtimes
        self.seconds = time.perf_counter() - self._p0
        self._spans.add(self._name, self._t0, self._t0 + self.seconds, self._parent, self.id, **self._attrs)
        return False


def result_line(correct: bool, attempted: int, failed: int, metrics: dict, units: dict) -> str:
    return json.dumps(
        {
            "correct": bool(correct),
            "attempted": int(attempted),
            "failed": int(failed),
            "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
        }
    )
