"""``registry`` workload: the batch user's queries, at sf0.01.

Each operation calls a registry entry's ``spec.spark_fn(spark, sf_dir)``
(the build: Python construction plus any probe jobs) and writes the
result to the ``noop`` sink (the execution), as ``bench.py`` and the
reference's benchto protocol do. A pass runs ``ENTRIES`` once, in a fixed
order. A prewarm pass comes first; it collects every entry's result,
which is checked against the entry's DuckDB oracle with
``presto_ads_spark.testing.compare_frames`` after the measured phase and
after ``py_rss_mb`` is read, so DuckDB is not in the process before then.

It is the one workload whose work repeats within a process: the same
entries run in every pass.

The streaming entry, ``STREAM_ENTRY``, runs in the traced run only, after
the measured passes: its first call in a process takes about 18 s and
every later one about 7 s, whatever the scale factor, which a run of the
benchmark's budget cannot hold next to the other entries.
"""

from __future__ import annotations

import glob
import math
import os
import shutil
import time

import harness as H

# A fixed subset of the 27 bench entries, one or more per layer, that fits
# the run budget: a relational plan with a gated-broadcast probe and a
# persisted intermediate (q05), MinHash/LSH dedup, Python workers
# (mapInPandas) and an event-time join.
ENTRIES = (
    "q05_local_supplier",
    "dedup_minhash_lsh",
    "multimodal_features",
    "events_asof_join",
)
# streaming (applyInPandasWithState), for the streaming layer's metrics
STREAM_ENTRY = "streaming_lsh_dedup"
# passes after the prewarm pass and before the measured ones: a pass's
# time falls by a third over the first three passes after it (JIT
# compilation); with none, pass_s spread 22% over five seeds
WARM_PASSES = 1
# a warm pass's time on the reference host; a run measures
# ceil(--seconds / PASS_S) passes, and at least MIN_PASSES, whatever the
# program's speed, so every run with the same --seconds does the same work.
# Each entry's latency is its median over the passes: with two passes,
# write_p50_ms spread 18% over ten seeds.
PASS_S = 3.0
MIN_PASSES = 3


def measured_passes(seconds: float) -> int:
    return max(MIN_PASSES, math.ceil(seconds / PASS_S))


def remove_leftovers() -> None:
    """Directories the entries leave in the temp dir (``stream_lsh_*``
    from ``streaming_lsh_dedup``, streaming checkpoints)."""
    tmp = os.environ["TMPDIR"]
    for d in glob.glob(os.path.join(tmp, "stream_lsh_*")) + glob.glob(
        os.path.join(tmp, "temporary-*")
    ):
        shutil.rmtree(d, ignore_errors=True)


class StreamStats:
    """StreamingQueryListener totals: micro-batches, addBatch and commit
    time, rows held in state."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        stats = self
        self.batches = 0
        self.add_ms = 0.0
        self.commit_ms = 0.0
        self.state_rows: dict[str, int] = {}

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                d = p.durationMs or {}
                stats.batches += 1
                stats.add_ms += d.get("addBatch", 0)
                stats.commit_ms += sum(v for k, v in d.items()
                                       if k.startswith("commit"))
                stats.state_rows[str(p.runId)] = sum(
                    op.numRowsTotal for op in p.stateOperators)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = Listener()
        spark.streams.addListener(self.listener)

    def snapshot(self) -> tuple:
        return (self.batches, self.add_ms, self.commit_ms,
                sum(self.state_rows.values()))


def run_entry(spark, spec, tracer: H.Tracer, trace: bool):
    """Build and execute one entry: build ms, execution ms, the Spark jobs
    launched inside ``spark_fn`` (traced runs only) and the persisted RDDs
    left behind. Cached blocks and left-over directories are dropped
    afterwards, on every path out."""
    sc = spark.sparkContext
    try:
        with tracer.span("op"):
            jobs_before = (max(sc.statusTracker().getJobIdsForGroup(),
                               default=-1) if trace else 0)
            t0 = time.perf_counter()
            with tracer.span("build"):
                df = spec.spark_fn(spark, H.DATA)
            t1 = time.perf_counter()
            jobs = (max(sc.statusTracker().getJobIdsForGroup(), default=-1)
                    - jobs_before if trace else 0)
            with tracer.span("exec"):
                df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
    finally:
        tracer.op = None
        left = H.drop_cached(spark)
        remove_leftovers()
    return (t1 - t0) * 1e3, (t2 - t1) * 1e3, jobs, left


def collect_result(spark, spec) -> H.Frame:
    try:
        df = spec.spark_fn(spark, H.DATA)
        return H.Frame(df.columns, df.collect())
    finally:
        H.drop_cached(spark)
        remove_leftovers()


def streaming_layer(spark, spec, stream: StreamStats, tracer: H.Tracer,
                    results: dict) -> dict:
    """The streaming entry's per-layer figures: a first call, which warms
    it up and whose result is kept for the check, then a timed one."""
    results[spec.name] = collect_result(spark, spec)
    time.sleep(0.5)  # listener events arrive asynchronously
    b0, a0, c0, _ = stream.snapshot()
    tracer.op = f"stream:{spec.name}"
    b, x, _, _ = run_entry(spark, spec, tracer, True)
    time.sleep(0.5)
    b1, a1, c1, s1 = stream.snapshot()
    return {
        f"{spec.name}.build_ms": (b, "ms"),
        f"{spec.name}.exec_ms": (x, "ms"),
        "streaming.batches": (b1 - b0, "count"),
        "streaming.add_batch_ms": (a1 - a0, "ms"),
        "streaming.commit_ms": (c1 - c0, "ms"),
        "streaming.state_rows": (s1 / max(1, len(stream.state_rows)),
                                 "count"),
    }


def run(args, t_proc: float) -> dict:
    tracer = H.Tracer(args.trace)
    extra = ({"spark.ui.retainedJobs": "100000",
              "spark.ui.retainedStages": "100000"} if args.trace else None)
    t = time.perf_counter()
    with tracer.span("session.start"):
        spark = H.start_spark("perfbench-registry", extra)
        from presto_ads_spark.queries import load_all

        specs = [load_all()[name] for name in ENTRIES]
    session_s = time.perf_counter() - t
    setup_s = time.monotonic() - t_proc
    host0 = H.host_sample()
    stream = StreamStats(spark) if args.trace else None

    attempted = failed = 0
    problems: list[str] = []

    # prewarm: one pass that collects every entry's result for the check
    # at the end, then WARM_PASSES passes like the measured ones
    results: dict[str, H.Frame] = {}
    for spec in specs:
        attempted += 1
        try:
            results[spec.name] = collect_result(spark, spec)
        except Exception as e:  # noqa: BLE001 — counted, run goes on
            failed += 1
            problems.append(f"{spec.name} raised {e!r:.300}")
    H.collect_garbage(spark)

    build: dict[str, list[float]] = {s.name: [] for s in specs}
    execute: dict[str, list[float]] = {s.name: [] for s in specs}
    op_ms: dict[str, list[float]] = {s.name: [] for s in specs}
    build_jobs = leftover = 0

    def one_pass(tag: str, record: bool) -> float:
        nonlocal attempted, failed, build_jobs, leftover
        total = 0.0
        for spec in specs:
            attempted += 1
            tracer.op = f"{tag}:{spec.name}"
            try:
                b, x, jobs, left = run_entry(spark, spec, tracer, args.trace)
            except Exception as e:  # noqa: BLE001 — counted, run goes on
                failed += 1
                problems.append(f"{spec.name} raised {e!r:.300}")
                continue
            total += (b + x) / 1e3
            if record:
                leftover += left
                build_jobs += jobs
                build[spec.name].append(b)
                execute[spec.name].append(x)
                op_ms[spec.name].append(b + x)
        H.collect_garbage(spark)
        return total

    for k in range(WARM_PASSES):
        one_pass(f"w{k}", record=False)
    warm_done = time.monotonic() - t_proc

    if args.trace:
        cpu = H.CpuMeter(spark)
        cpu0 = cpu.sample()
        gc0 = H.jvm_gc_ms(spark)
        ids0 = H.max_ids(spark)
    passes = [one_pass(f"p{k}", record=True)
              for k in range(measured_passes(args.seconds))]
    measure_done = time.monotonic() - t_proc
    heap = H.jvm_heap_mb(spark)
    rss = H.py_rss_mb()
    host1 = H.host_sample()
    n = len(passes)

    # one latency per entry (its median over passes), so the percentiles
    # rank the entries instead of mixing samples of different entries
    entry_ms = [H.median(v) for v in op_ms.values()]
    exec_ms = [H.median(v) for v in execute.values()]
    end_to_end = {
        "setup_s": (setup_s, "s"),
        "pass_s": (H.median(passes), "s"),
        "op_p50_ms": (H.median(entry_ms), "ms"),
        "op_p90_ms": (H.pct(entry_ms, 90), "ms"),
        "write_p50_ms": (H.median(exec_ms), "ms"),
        "retained_heap_mb": (heap, "MB"),
        "py_rss_mb": (rss, "MB"),
    }
    layers = {}
    if args.trace:
        layers["session.start_s"] = (session_s, "s")
        for name in ENTRIES:
            layers[f"{name}.build_ms"] = (H.median(build[name]), "ms")
            layers[f"{name}.exec_ms"] = (H.median(execute[name]), "ms")
        layers.update({
            "queries.build_jobs": (build_jobs / n, "count"),
            "exec.ms_sum": (sum(sum(v) for v in execute.values()) / n, "ms"),
            "exec.ms_p50": (H.median(exec_ms), "ms"),
            "cache.leftover_rdds": (leftover / n, "count"),
            "jvm.gc_ms": ((H.jvm_gc_ms(spark) - gc0) / n, "ms"),
            "trace.pass_s": (H.median(passes), "s"),
        })
        for k, (v, u) in H.spark_counters(spark, ids0).items():
            layers[k] = (v / n, u)
        for k, v in H.CpuMeter.delta(cpu0, cpu.sample()).items():
            layers[k] = (v / n, "s")
        stream_spec = load_all()[STREAM_ENTRY]
        specs.append(stream_spec)
        try:
            layers.update(streaming_layer(spark, stream_spec, stream, tracer,
                                          results))
        except Exception as e:  # noqa: BLE001 — counted, run goes on
            failed += 1
            problems.append(f"{STREAM_ENTRY} raised {e!r:.300}")
        attempted += 2
        tracer.write(os.path.join(H.WORK, "traces",
                                  f"registry-{args.seed}.json"))
    from presto_ads_spark.testing import compare_frames, duckdb_connection

    con = duckdb_connection(H.DATA)
    for spec in specs:
        if spec.name in results:
            res = compare_frames(spec.name, results[spec.name], con,
                                 spec.oracle)
            if not res.ok:
                problems.append(f"{spec.name}: {res.detail:.300}")
    env = H.environment(spark, host0, host1)
    env.update(passes=n, entries=len(ENTRIES),
               pass_s_each=[round(x, 3) for x in passes],
               entry_ms={k: [round(x) for x in v] for k, v in op_ms.items()},
               phases_s=[round(x, 1) for x in (setup_s, warm_done,
                                                measure_done)])
    return {"end_to_end": end_to_end, "layers": layers, "env": env,
            "attempted": attempted, "failed": failed, "problems": problems,
            "spark": spark}
