"""Benchmark entry point.

    python3 perfbench/run.py --workload sql_session --seed 1 --seconds 5 --trace 0

Run from the repository root. The command makes the input tables if they
are missing (``gen_data.py``, outside any timing), then starts one session
process with a pinned environment (``harness.pinned_env``) that sets up,
warms up, measures for about ``--seconds`` seconds and checks every
answer. For ``sql_session`` it first writes the run's plan of operations
(``sql_session.write_plan``). The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics, or with ``--trace 1`` the per-layer metrics of a
traced run. The line before it records the run's environment.

``--regenerate`` rewrites the frozen statement plan, ``deck.json``,
instead (``gen_statements.py``).
"""

from __future__ import annotations

import argparse
import glob
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

import harness as H
import registry

WORKLOADS = ("sql_session", "registry")
SESSION_TIMEOUT_S = 140  # plus up to 30 s to stop the group: under 180 s
REGENERATE_TIMEOUT_S = 3600

# per-layer metrics of the traced run, for every workload; a layer a
# workload does not exercise reads 0
PER_LAYER = (
    ("session.start_s", "s"), ("catalog.register_s", "s"),
    ("functions.register_s", "s"), ("engine.init_s", "s"),
    ("analyze.ms_sum", "ms"), ("analyze.ms_p50", "ms"),
    ("rewrite.ms_sum", "ms"), ("rewrite.ms_p50", "ms"),
    ("rewrite.ms_p90", "ms"),
    ("exec.ms_sum", "ms"), ("exec.ms_p50", "ms"),
    ("spark.jobs", "count"), ("spark.stages", "count"),
    ("spark.tasks", "count"), ("spark.shuffle_write_mb", "MB"),
    ("spark.spill_mb", "MB"),
    ("write.ctas_ms_p50", "ms"), ("write.insert_ms_p50", "ms"),
    ("write.delete_ms_p50", "ms"),
    ("wide.ms_p50", "ms"), ("h2.ms_p50", "ms"),
    ("queries.build_jobs", "count"),
    ("pyworker.cpu_s", "s"), ("py.cpu_s", "s"), ("jvm.cpu_s", "s"),
    ("streaming.batches", "count"), ("streaming.add_batch_ms", "ms"),
    ("streaming.commit_ms", "ms"), ("streaming.state_rows", "count"),
    ("cache.leftover_rdds", "count"), ("jvm.gc_ms", "ms"),
    ("trace.pass_s", "s"),
) + tuple((f"{e}.{m}", "ms")
          for e in registry.ENTRIES + (registry.STREAM_ENTRY,)
          for m in ("build_ms", "exec_ms"))


def parse(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--regenerate", action="store_true")
    ap.add_argument("--session-start", type=float, help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    if not args.regenerate and not args.workload:
        ap.error("--workload is required")
    return args


def remove_stale_run_dirs() -> None:
    """Run directories (warehouse tables, temp and Spark local files) of
    runs whose process is gone. Traces stay."""
    for d in glob.glob(os.path.join(H.WORK, "run-*")):
        try:
            os.kill(int(d.rsplit("-", 1)[1]), 0)
        except ProcessLookupError:
            shutil.rmtree(d, ignore_errors=True)


def _group_alive(pgid: int) -> bool:
    for d in os.listdir("/proc"):
        f = H._stat(int(d)) if d.isdigit() else None
        if f and int(f[2]) == pgid and f[0] != "Z":
            return True
    return False


def stop_group(pgid: int, timeout_s: float = 20.0) -> None:
    """End every process of the session's group (the JVM and Python
    workers included) and wait until they are gone."""
    try:
        os.killpg(pgid, signal.SIGTERM)
    except ProcessLookupError:
        return
    deadline = time.monotonic() + timeout_s
    while _group_alive(pgid) and time.monotonic() < deadline:
        time.sleep(0.2)
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    while _group_alive(pgid) and time.monotonic() < deadline + 10:
        time.sleep(0.2)


def launch(args, argv: list[str]) -> int:
    """Run this script again as the session process, in its own process
    group with the pinned environment; relay its standard output."""
    import gen_data

    for need in ("presto_ads_spark", "tests"):
        if not os.path.isdir(os.path.join(H.ROOT, need)):
            print(f"{need}/ not found next to perfbench/", file=sys.stderr)
            return 2
    gen_data.ensure(H.DATA, H.SF)
    remove_stale_run_dirs()
    run_dir = os.path.join(H.WORK, f"run-{os.getpid()}")
    env = H.pinned_env(run_dir)
    os.makedirs(run_dir, exist_ok=True)
    if args.workload == "sql_session" and not args.regenerate:
        sys.path.insert(0, H.ROOT)
        import sql_session

        sql_session.write_plan(H.plan_path(run_dir), args.seed, args.seconds)
    t0 = time.monotonic()
    proc = subprocess.Popen(
        [sys.executable, os.path.abspath(__file__), *argv,
         "--session-start", repr(t0)],
        env=env, cwd=H.ROOT, stdout=subprocess.PIPE,
        start_new_session=True,
    )
    try:
        out, _ = proc.communicate(
            timeout=REGENERATE_TIMEOUT_S if "--regenerate" in argv
            else SESSION_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        stop_group(proc.pid)
        proc.wait()
        print("session process timed out", file=sys.stderr)
        return 1
    finally:
        exited = time.monotonic() - t0
        stop_group(proc.pid)
        shutil.rmtree(run_dir, ignore_errors=True)
        print(f"session exited at {exited:.1f} s, cleaned up at"
              f" {time.monotonic() - t0:.1f} s", file=sys.stderr)
    if proc.returncode != 0:
        return proc.returncode or 1
    sys.stdout.write(out.decode())
    sys.stdout.flush()
    return 0


def session(args) -> int:
    sys.path.insert(0, H.ROOT)
    if args.regenerate:
        import gen_statements

        gen_statements.main()
        return 0
    if args.workload == "sql_session":
        import sql_session as workload
    else:
        workload = registry
    res = workload.run(args, args.session_start)
    res["env"]["report_s"] = round(time.monotonic() - args.session_start, 1)
    res["spark"].stop()
    for p in res["problems"]:
        print(f"CHECK: {p}", file=sys.stderr)
    if args.trace:
        metrics = {
            name: {"value": res["layers"].get(name, (0, unit))[0],
                   "unit": unit}
            for name, unit in PER_LAYER
        }
    else:
        metrics = {k: {"value": v, "unit": u}
                   for k, (v, u) in res["end_to_end"].items()}
    bad = [k for k, m in metrics.items() if not math.isfinite(m["value"])]
    if bad:
        print(f"no measurement for {bad}: every operation failed",
              file=sys.stderr)
        return 1
    print(json.dumps({"env": res["env"]}))
    print(json.dumps({
        "correct": not res["problems"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


def main(argv=None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    args = parse(argv)
    if args.session_start is None:
        return launch(args, argv)
    return session(args)


if __name__ == "__main__":
    sys.exit(main())
