"""Shared machinery of the benchmark's workloads.

Everything here runs in the measured session process: the pinned
environment, Spark session start, the spans of a traced run, cache
isolation between executions, and the JVM and /proc probes that give
memory, CPU and host-load figures. Timings are taken around calls into
the program's modules; nothing is added inside the program.
"""

from __future__ import annotations

import contextlib
import gc
import json
import os
import statistics
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
DATA = os.path.join(HERE, ".data", "sf0.01")
SF = 0.01


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def driver_mem() -> str:
    """Driver heap sized from host memory: a quarter of it, 1-4 GiB."""
    with open("/proc/meminfo", encoding="ascii") as f:
        total_kb = int(f.readline().split()[1])
    return f"{max(1, min(4, total_kb // (4 * 1024 * 1024)))}g"


def pinned_env(run_dir: str) -> dict[str, str]:
    """Environment of the session process and the Spark processes it
    starts; their files go under ``run_dir``. PYTHONPATH lets Spark's
    Python workers import the package; TMPDIR keeps ``tempfile`` users
    inside the checkout."""
    env = dict(os.environ)
    env.update({
        "PERFBENCH_RUN_DIR": run_dir,
        "SPARK_GRAFT_CPUS": str(host_cpus()),
        "SPARK_GRAFT_DRIVER_MEM": driver_mem(),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "PYTHONHASHSEED": "0",
        # every run compiles the package afresh, so setup_s does not
        # depend on a bytecode cache left by an earlier run
        "PYTHONDONTWRITEBYTECODE": "1",
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, env.get("PYTHONPATH")) if p
        ),
        "TMPDIR": os.path.join(run_dir, "tmp"),
    })
    return env


def plan_path(run_dir: str | None = None) -> str:
    """The run's plan of operations, written before the session starts."""
    return os.path.join(run_dir or os.environ["PERFBENCH_RUN_DIR"],
                        "plan.json")


def start_spark(app: str, extra: dict[str, str] | None = None):
    """SparkSession with the engine's defaults, its files kept in the
    run directory. Call in a process that has ``pinned_env()``."""
    from presto_ads_spark.session import get_spark

    tmp = os.environ["TMPDIR"]
    for d in (tmp, os.environ["SPARK_LOCAL_DIRS"]):
        os.makedirs(d, exist_ok=True)
    conf = {
        "spark.sql.warehouse.dir": os.path.join(
            os.environ["PERFBENCH_RUN_DIR"], "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }
    conf.update(extra or {})
    spark = get_spark(app, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


# -- statistics ---------------------------------------------------------------


def pct(values, q: float) -> float:
    """q-th percentile (0-100) by linear interpolation."""
    xs = sorted(values)
    if not xs:
        return float("nan")
    k = (len(xs) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def median(values) -> float:
    return statistics.median(values) if values else float("nan")


# -- tracing ------------------------------------------------------------------


class Tracer:
    """Spans of a traced run: name, start, end, parent and operation id,
    kept in memory and written out once at the end. Disabled, ``span``
    costs one attribute test."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: str | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {"name": name, "op": self.op,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def per_op_ms(self, name: str) -> dict[str, float]:
        """Summed duration of spans called ``name``, by operation id."""
        out: dict[str, float] = {}
        for s in self.spans:
            if s["name"] == name and s["op"] is not None:
                out[s["op"]] = out.get(s["op"], 0.0) + (
                    s["end"] - s["start"]) * 1e3
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as f:
            json.dump(self.spans, f)


def timed_method(tracer: Tracer, obj, attr: str, span_name: str) -> None:
    """Wrap ``obj.attr`` (an instance attribute shadowing the method) in a
    span; used by the traced run only."""
    fn = getattr(obj, attr)

    def wrapper(*a, **kw):
        with tracer.span(span_name):
            return fn(*a, **kw)

    setattr(obj, attr, wrapper)


# -- isolation ----------------------------------------------------------------


def drop_cached(spark) -> int:
    """Persisted RDDs the last execution left behind; then drop every
    cached block so the next execution starts from storage."""
    jsc = spark.sparkContext._jsc
    left = jsc.getPersistentRDDs().size()
    spark.catalog.clearCache()
    for rdd in list(jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)
    return int(left)


def collect_garbage(spark) -> None:
    """Python and JVM garbage collection, between passes."""
    gc.collect()
    spark._jvm.java.lang.System.gc()


class Frame:
    """Collected rows standing in for a Spark DataFrame in
    ``compare_frames``, so a result can be checked after the session
    has moved on."""

    def __init__(self, columns: list[str], rows: list):
        self.columns = columns
        self._rows = rows

    def collect(self) -> list:
        return self._rows


# -- JVM and process probes ---------------------------------------------------


def jvm_heap_mb(spark, cycles: int = 5) -> float:
    """Heap in use after a forced GC: the least of ``cycles`` GCs a
    quarter of a second apart. Spark's context cleaner frees broadcast and
    shuffle blocks a moment after the GC that found them unreachable, so
    one GC read 75 or 95 MB of the same kind of run; stopping at the first
    two GCs that agreed within 1% still read 293 or 335 MB."""
    jvm = spark._jvm
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used = []
    for _ in range(cycles):
        time.sleep(0.25)
        jvm.java.lang.System.gc()
        used.append(bean.getHeapMemoryUsage().getUsed())
    return min(used) / 2**20


def jvm_gc_ms(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return float(sum(b.getCollectionTime() for b in beans))


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def py_rss_mb() -> float:
    with open("/proc/self/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmRSS:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmRSS missing from /proc/self/status")


_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii") as f:
            raw = f.read()
    except OSError:
        return None
    # fields after the parenthesised command name
    return raw[raw.rindex(")") + 2:].split()


def _cpu_s(fields: list[str], children: bool) -> float:
    ticks = int(fields[11]) + int(fields[12])  # utime, stime
    if children:
        ticks += int(fields[13]) + int(fields[14])  # reaped children
    return ticks / _TICK


def _descendants(root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            f = _stat(int(d))
            if f:
                kids.setdefault(int(f[1]), []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


class CpuMeter:
    """CPU seconds of this process, the JVM, and the JVM's Python
    workers (their own time plus that of workers already reaped)."""

    def __init__(self, spark):
        self.jvm = jvm_pid(spark)

    def sample(self) -> dict[str, float]:
        own = _stat(os.getpid())
        jvm = _stat(self.jvm)
        workers = 0.0
        for pid in _descendants(self.jvm):
            f = _stat(pid)
            if f:
                workers += _cpu_s(f, children=True)
        return {
            "py.cpu_s": _cpu_s(own, children=False),
            "jvm.cpu_s": _cpu_s(jvm, children=False) if jvm else 0.0,
            "pyworker.cpu_s": workers,
        }

    @staticmethod
    def delta(a: dict, b: dict) -> dict[str, float]:
        return {k: max(0.0, b[k] - a[k]) for k in a}


def host_sample() -> dict[str, float]:
    with open("/proc/stat", encoding="ascii") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    return {"total": float(sum(cpu)), "steal": float(cpu[7]),
            "load1": os.getloadavg()[0]}


def environment(spark, start: dict, end: dict) -> dict:
    """The run's environment, for the record printed before the result."""
    import duckdb
    import pyspark

    sc = spark.sparkContext
    jvm = spark._jvm
    span = end["total"] - start["total"]
    return {
        "cores": host_cpus(),
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "heap_max_mb": round(jvm.java.lang.Runtime.getRuntime().maxMemory()
                             / 2**20),
        "pyspark": pyspark.__version__,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "duckdb": duckdb.__version__,
        "load1_start": round(start["load1"], 2),
        "load1_end": round(end["load1"], 2),
        "cpu_steal_pct": round(
            100.0 * (end["steal"] - start["steal"]) / span, 3
        ) if span else 0.0,
    }


# -- Spark counters for the traced run -----------------------------------------


def _rest(spark, path: str):
    import urllib.request

    sc = spark.sparkContext
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/{path}"
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


def max_ids(spark) -> tuple[int, int]:
    """Largest job and stage ids so far (-1 when none)."""
    jobs = _rest(spark, "jobs")
    stages = _rest(spark, "stages")
    return (max((j["jobId"] for j in jobs), default=-1),
            max((s["stageId"] for s in stages), default=-1))


def spark_counters(spark, since: tuple[int, int]) -> dict:
    """Jobs, stages, tasks, shuffle writes and spills after ``since``."""
    jobs = [j for j in _rest(spark, "jobs") if j["jobId"] > since[0]]
    stages = [s for s in _rest(spark, "stages") if s["stageId"] > since[1]]
    mb = 2**20
    return {
        "spark.jobs": (len(jobs), "count"),
        "spark.stages": (len(stages), "count"),
        "spark.tasks": (sum(s["numTasks"] for s in stages), "count"),
        "spark.shuffle_write_mb": (
            sum(s["shuffleWriteBytes"] for s in stages) / mb, "MB"),
        "spark.spill_mb": (
            sum(s["diskBytesSpilled"] for s in stages) / mb, "MB"),
    }
