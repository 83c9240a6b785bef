"""``sql_session`` workload: one Presto client session over sf0.01 tables.

A single client sends statements through ``Engine.sql`` in a closed loop
and collects each result. A round is a fixed mix:

- ``WIDE_PER_ROUND`` wide SELECTs, each
  ``SELECT (e1) AS c0, ..., (ek) AS ck`` over scalar-corpus expressions,
  checked against the values Presto's own ``assertFunction`` tests assert
  (``tests/scalar_corpus.py``);
- ``H2_PER_ROUND`` H2-corpus reads (``tests/h2_corpus.py``), checked
  against DuckDB over the same parquet;
- one write sequence on a fresh managed table: CTAS, INSERT, DELETE,
  read-back, checked against DuckDB replaying the same statements; then
  ``DELETE ... WHERE orderkey / 4 = 10``, which ``Engine._delete`` runs
  without Presto's integer division, so it removes the wrong rows and is
  counted as failed until that is fixed.

``deck.json`` names the statements (``gen_statements.py``). Before the
session starts, ``write_plan`` looks their SQL up in the corpora and
writes the run's rounds to the run directory, so the session process holds
neither corpus while it is measured. Each round draws its statements
across the whole cost range (``Pools``); no statement repeats within a
run, and the warm-up round draws from statements kept apart from the
measured ones. The number of measured rounds depends on ``--seconds``
only, so every run with the same ``--seconds`` measures the same
statements. ``--seed`` sets the order of the reads within each round and
the key ranges of the write sequences. Answers are checked after the
measured phase and after ``py_rss_mb`` is read, so neither the corpora nor
DuckDB are in the process before then.
"""

from __future__ import annotations

import json
import math
import os
import random
import time

import harness as H
from tests import _golden_util as gu
from tests import _scalar_util as su

DECK = os.path.join(H.HERE, "deck.json")
WIDE_PER_ROUND = 2
H2_PER_ROUND = 8
# the warm-up round: four wide SELECTs (the first Python-UDF call of a
# session costs about 3 s), three H2 reads, a write sequence
WARM_WIDE = 4
WARM_H2 = 3
MAX_ROUNDS = 6  # cost groups per slot; later rounds draw from them again
ROUND_S = 5.5  # a measured round's time on the reference host
# write_p50_ms is the median write sequence, one a round: with one
# measured round it spread 23% over ten seeds
MIN_ROUNDS = 2
DECK_SEED = 0
ORDERKEYS = int(1_500_000 * H.SF)
WINDOW = 300
# kinds of operation whose latency is a read's (op_p50_ms, op_p90_ms)
READS = ("wide", "h2", "readback")


# -- session ------------------------------------------------------------------


def open_session(tracer: H.Tracer, extra=None):
    """Session start, table and function registration, Engine
    construction. Returns the engine and the per-layer set-up times."""
    from presto_ads_spark.engine import Engine
    from presto_ads_spark.functions import register_all

    times = {}
    t = time.perf_counter()
    with tracer.span("session.start"):
        spark = H.start_spark("perfbench-sql-session", extra)
    times["session.start_s"] = time.perf_counter() - t
    t = time.perf_counter()
    with tracer.span("catalog.register"):
        gu.register_h2_views(spark, H.DATA)
    times["catalog.register_s"] = time.perf_counter() - t
    t = time.perf_counter()
    with tracer.span("functions.register"):
        register_all(spark)
    times["functions.register_s"] = time.perf_counter() - t
    t = time.perf_counter()
    with tracer.span("engine.init"):
        eng = Engine(spark, sf_dir=None, register_functions=False)
    times["engine.init_s"] = time.perf_counter() - t
    return eng, times


# -- corpora and checks -------------------------------------------------------


def scalar_corpus() -> dict:
    """Default-session (UTC, ``en``) scalar cases by key: the case name,
    or ``name#k`` for the k-th case of a name the corpus uses more than
    once (the corpus has 14 such names)."""
    from tests.scalar_corpus import CASES

    out: dict = {}
    seen: dict[str, int] = {}
    for c in CASES:
        if (c.get("tz", "UTC") != "UTC" or c.get("locale", "en") != "en"
                or c.get("start_ms") is not None or c.get("legacy", False)):
            continue
        seen[c["name"]] = seen.get(c["name"], 0) + 1
        k = seen[c["name"]]
        out[c["name"] if k == 1 else f"{c['name']}#{k}"] = c
    return out


def h2_corpus() -> dict:
    from tests.h2_corpus import CASES

    return {c["name"]: c for c in CASES}


def wide_sql(keys: list[str], cases: dict) -> str:
    return "SELECT " + ", ".join(
        f"({su.eval_sql(cases[n]['sql'], cases[n]['cat'])}) AS c{k}"
        for k, n in enumerate(keys)
    )


def wide_mismatches(row, keys: list[str], cases: dict) -> list[str]:
    bad = []
    for k, n in enumerate(keys):
        c = cases[n]
        if not su.values_match(c["cat"], row[k], c["expected"], c["name"]):
            bad.append(f"{n}: got {row[k]!r} want {c['expected']!r}")
    return bad


def duck_sql(sql: str) -> str:
    return gu.duck_values_parens(gu.duck_int_division(sql))


def h2_mismatch(got: list[tuple], case: dict, duck) -> str | None:
    osql = case.get("oracle") or case["sql"]
    want = [tuple(r) for r in duck.execute(duck_sql(osql)).fetchall()]
    if case.get("count_only"):
        return None if len(got) == len(want) else (
            f"{len(got)} rows, oracle {len(want)}")
    if case.get("tolerance") is not None:
        return gu.compare_pyrows_tol(got, want, case["tolerance"],
                                     case.get("tol_cols"))
    return gu.compare_pyrows(got, want)


# the writes whose summed latency is a write sequence's: half the writes
# of a round are DELETEs five times slower than the rest, so the median of
# single writes would fall in the gap between the two kinds
SEQUENCE_WRITES = ("ctas", "insert", "delete")
LINE_COLS = "orderkey, partkey, linenumber, quantity, extendedprice, shipdate"


def write_sequence(tag: str, rng: random.Random) -> list[tuple[str, str]]:
    """(kind, sql) of one write sequence on table ``bw_<tag>``. The
    seeded ranges stay clear of orderkeys below 64, which every table
    holds, so the final DELETE always has rows to find."""
    lo, lo2 = (rng.randrange(64, ORDERKEYS - WINDOW) for _ in range(2))
    t = f"bw_{tag}"
    return [
        ("ctas", f"CREATE TABLE {t} AS SELECT {LINE_COLS} FROM lineitem"
                 f" WHERE orderkey < 64 OR orderkey BETWEEN {lo} AND"
                 f" {lo + WINDOW}"),
        ("insert", f"INSERT INTO {t} SELECT {LINE_COLS} FROM lineitem"
                   f" WHERE orderkey BETWEEN {lo2} AND {lo2 + WINDOW}"),
        ("delete", f"DELETE FROM {t} WHERE orderkey >= 64 AND linenumber ="
                   f" {rng.randint(1, 7)}"),
        ("readback", f"SELECT linenumber, count(*) AS n, sum(orderkey) AS sk,"
                     f" max(extendedprice) AS mx FROM {t} GROUP BY linenumber"),
        ("delete_fault", f"DELETE FROM {t} WHERE orderkey / 4 = 10"),
    ]


# -- the run's plan -----------------------------------------------------------


class Pools:
    """The statements of each round, drawn without replacement.

    The pool is sorted by the cost ``gen_statements.py`` recorded for each
    statement and cut into ``slots * MAX_ROUNDS`` groups of neighbours.
    Round ``k`` takes slot ``s`` from group ``s * MAX_ROUNDS + k %
    MAX_ROUNDS``, so every round spans the whole cost range. The draw
    within a group is fixed (``DECK_SEED``): a few heavy statements in the
    top groups would otherwise move a round's time by a quarter from one
    seed to the next, so every run measures the same statements."""

    def __init__(self, ids: list[int], cost: list[float], slots: int,
                 rng: random.Random):
        order = sorted(ids, key=lambda i: cost[i])
        n = slots * MAX_ROUNDS
        self.groups = [order[g * len(order) // n:(g + 1) * len(order) // n]
                       for g in range(n)]
        for g in self.groups:
            rng.shuffle(g)
        self.slots = slots

    def draw(self, k: int) -> list[int]:
        return [self.groups[s * MAX_ROUNDS + k % MAX_ROUNDS].pop()
                for s in range(self.slots)]


def measured_rounds(seconds: float) -> int:
    return max(MIN_ROUNDS, math.ceil(seconds / ROUND_S))


def write_plan(path: str, seed: int, seconds: float) -> None:
    """The run's rounds, with each statement's SQL looked up in the
    corpora: one warm-up round, then ``measured_rounds(seconds)``."""
    with open(DECK, encoding="utf-8") as f:
        deck = json.load(f)
    scalar, h2 = scalar_corpus(), h2_corpus()
    missing = sorted({n for st in deck["wide"] for n in st["cases"]
                      if n not in scalar}
                     | {r["name"] for r in deck["h2"] if r["name"] not in h2})
    if missing:
        raise SystemExit(f"deck.json names cases the corpora lack: "
                         f"{missing[:10]}; run run.py --regenerate")
    rng = random.Random(seed)
    draw = random.Random(DECK_SEED)

    def pools(warm: bool):
        return (
            Pools([i for i, s in enumerate(deck["wide"]) if s["warm"] == warm],
                  [s["ms"] for s in deck["wide"]],
                  WARM_WIDE if warm else WIDE_PER_ROUND, draw),
            Pools([i for i, r in enumerate(deck["h2"]) if r["warm"] == warm],
                  [r["ms"] for r in deck["h2"]],
                  WARM_H2 if warm else H2_PER_ROUND, draw),
        )

    def one_round(tag: str, ps, k: int) -> dict:
        wide_ids, h2_ids = (p.draw(k) for p in ps)
        reads = [{"kind": "wide", "id": f"wide{i}",
                  "cases": deck["wide"][i]["cases"],
                  "sql": wide_sql(deck["wide"][i]["cases"], scalar)}
                 for i in wide_ids]
        reads += [{"kind": "h2", "id": deck["h2"][i]["name"],
                   "sql": h2[deck["h2"][i]["name"]]["sql"]} for i in h2_ids]
        rng.shuffle(reads)
        return {"tag": tag, "reads": reads,
                "writes": write_sequence(tag, rng)}

    warm_pools = pools(warm=True)
    measured = pools(warm=False)
    plan = {"warm": [one_round("w0", warm_pools, 0)],
            "measured": [one_round(f"m{k}", measured, k)
                         for k in range(measured_rounds(seconds))]}
    with open(path, "w", encoding="utf-8") as f:
        json.dump(plan, f)


# -- the run ------------------------------------------------------------------


def run(args, t_proc: float) -> dict:
    tracer = H.Tracer(args.trace)
    extra = ({"spark.ui.retainedJobs": "100000",
              "spark.ui.retainedStages": "100000"} if args.trace else None)
    eng, setup_times = open_session(tracer, extra)
    setup_s = time.monotonic() - t_proc
    spark = eng.spark
    host0 = H.host_sample()
    with open(H.plan_path(), encoding="utf-8") as f:
        plan = json.load(f)
    if args.trace:
        H.timed_method(tracer, eng, "_rewrite", "rewrite")

    st = {"attempted": 0, "failed": 0, "problems": [], "leftover": 0,
          "reads": [], "writes": [], "by_kind": {}, "rows": {}}

    def timed(opid: str, sql: str):
        tracer.op = opid
        with tracer.span("op"):
            t0 = time.perf_counter()
            with tracer.span("sql"):
                df = eng.sql(sql)
            with tracer.span("exec"):
                rows = df.collect()
            dt = (time.perf_counter() - t0) * 1e3
        tracer.op = None
        st["leftover"] += H.drop_cached(spark)
        return rows, dt

    def one_round(rnd: dict, record: bool) -> float:
        """Run a round; keep every result for the checks at the end."""
        tag = rnd["tag"]
        ops = [(op["kind"], op["id"], op["sql"]) for op in rnd["reads"]]
        ops += [(kind, kind, sql) for kind, sql in rnd["writes"]]
        total = seq_ms = 0.0
        for kind, opid, sql in ops:
            opid = f"{tag}:{opid}"
            st["attempted"] += 1
            try:
                rows, dt = timed(opid, sql)
            except Exception as e:  # noqa: BLE001 — counted, run goes on
                st["failed"] += 1
                st["problems"].append(f"{opid} raised {e!r:.300}")
                continue
            st["rows"][opid] = [tuple(r) for r in rows]
            total += dt
            if kind in SEQUENCE_WRITES:
                seq_ms += dt
            if record:
                if kind in READS:
                    st["reads"].append(dt)
                st["by_kind"].setdefault(kind, []).append(dt)
        if record:
            st["writes"].append(seq_ms)
        spark.sql(f"DROP TABLE IF EXISTS bw_{tag}")
        H.collect_garbage(spark)
        return total

    for rnd in plan["warm"]:
        one_round(rnd, record=False)
    warm_ops = st["attempted"]
    warm_done = time.monotonic() - t_proc
    cpu = H.CpuMeter(spark) if args.trace else None
    cpu0 = cpu.sample() if cpu else None
    gc0 = H.jvm_gc_ms(spark) if args.trace else 0.0
    jobs0 = H.max_ids(spark) if args.trace else None
    st["leftover"] = 0
    passes = [one_round(rnd, record=True) / 1e3 for rnd in plan["measured"]]
    measure_done = time.monotonic() - t_proc
    heap = H.jvm_heap_mb(spark)
    rss = H.py_rss_mb()
    host1 = H.host_sample()

    end_to_end = {
        "setup_s": (setup_s, "s"),
        "pass_s": (H.median(passes), "s"),
        "op_p50_ms": (H.median(st["reads"]), "ms"),
        "op_p90_ms": (H.pct(st["reads"], 90), "ms"),
        "write_p50_ms": (H.median(st["writes"]), "ms"),
        "retained_heap_mb": (heap, "MB"),
        "py_rss_mb": (rss, "MB"),
    }
    layers = {}
    if args.trace:
        layers.update({k: (v, "s") for k, v in setup_times.items()})
        rw = tracer.per_op_ms("rewrite")
        sq = tracer.per_op_ms("sql")
        ex = tracer.per_op_ms("exec")
        reads = [f"{rnd['tag']}:{op['id']}" for rnd in plan["measured"]
                 for op in rnd["reads"]]
        reads += [f"{rnd['tag']}:readback" for rnd in plan["measured"]]
        reads = [o for o in reads if o in ex]
        analyze = [sq[o] - rw.get(o, 0.0) for o in reads]
        rws = [rw.get(o, 0.0) for o in reads]
        exs = [ex[o] for o in reads]
        n = len(passes)
        kind = st["by_kind"]
        layers.update({
            "rewrite.ms_sum": (sum(rws) / n, "ms"),
            "rewrite.ms_p50": (H.median(rws), "ms"),
            "rewrite.ms_p90": (H.pct(rws, 90), "ms"),
            "analyze.ms_sum": (sum(analyze) / n, "ms"),
            "analyze.ms_p50": (H.median(analyze), "ms"),
            "exec.ms_sum": (sum(exs) / n, "ms"),
            "exec.ms_p50": (H.median(exs), "ms"),
            "write.ctas_ms_p50": (H.median(kind.get("ctas", [])), "ms"),
            "write.insert_ms_p50": (H.median(kind.get("insert", [])), "ms"),
            "write.delete_ms_p50": (H.median(
                kind.get("delete", []) + kind.get("delete_fault", [])), "ms"),
            "wide.ms_p50": (H.median(kind.get("wide", [])), "ms"),
            "h2.ms_p50": (H.median(kind.get("h2", [])), "ms"),
        })
        for k, (v, u) in H.spark_counters(spark, jobs0).items():
            layers[k] = (v / n, u)
        for k, v in H.CpuMeter.delta(cpu0, cpu.sample()).items():
            layers[k] = (v / n, "s")
        layers["jvm.gc_ms"] = ((H.jvm_gc_ms(spark) - gc0) / n, "ms")
        layers["cache.leftover_rdds"] = (st["leftover"] / n, "count")
        layers["trace.pass_s"] = (H.median(passes), "s")
        tracer.write(os.path.join(H.WORK, "traces",
                                  f"sql_session-{args.seed}.json"))
    check(plan["warm"] + plan["measured"], st)
    env = H.environment(spark, host0, host1)
    env.update(rounds=len(passes), warm_ops=warm_ops,
               phases_s=[round(x, 1) for x in (setup_s, warm_done,
                                                measure_done)],
               read_samples=len(st["reads"]),
               write_sequences=len(st["writes"]))
    return {"end_to_end": end_to_end, "layers": layers, "env": env,
            "attempted": st["attempted"], "failed": st["failed"],
            "problems": st["problems"], "spark": spark}


def check(rounds: list[dict], st: dict) -> None:
    """Check every kept result: wide SELECTs against the corpus's expected
    values, H2 reads against DuckDB, write sequences against DuckDB
    replaying them. A wrong answer is a problem, except that of the known
    DELETE fault, which counts as a failed operation."""
    scalar, h2 = scalar_corpus(), h2_corpus()
    duck = gu.duckdb_h2_connection(H.DATA)
    rows = st["rows"]
    for rnd in rounds:
        tag = rnd["tag"]
        for op in rnd["reads"]:
            got = rows.get(f"{tag}:{op['id']}")
            if got is None:
                continue  # raised; already counted
            if op["kind"] == "wide":
                bad = wide_mismatches(got[0], op["cases"], scalar)
                if bad:
                    st["problems"].append(f"{tag}:{op['id']}: {bad[:3]}")
            else:
                diff = h2_mismatch(got, h2[op["id"]], duck)
                if diff:
                    st["problems"].append(f"{tag}:h2 {op['id']}: {diff:.300}")
        for kind, sql in rnd["writes"]:
            dres = duck.execute(duck_sql(sql))
            got = rows.get(f"{tag}:{kind}")
            if got is None:
                continue
            if kind == "readback":
                diff = gu.compare_pyrows(got, [tuple(r) for r in
                                               dres.fetchall()])
                if diff:
                    st["problems"].append(f"readback {tag}: {diff:.300}")
            elif kind.startswith("delete"):
                want = dres.fetchall()[0][0]
                if got[0][0] != want:
                    if kind == "delete_fault":
                        st["failed"] += 1
                    else:
                        st["problems"].append(
                            f"{kind} {tag}: deleted {got[0][0]}, oracle {want}")
        duck.execute(f"DROP TABLE IF EXISTS bw_{tag}")
