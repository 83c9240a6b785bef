"""Freeze the statement plan of the ``sql_session`` workload.

Writes ``deck.json``: the wide SELECTs, each a list of scalar-corpus case
names (``tests/scalar_corpus.py``), and the H2 reads, as H2-corpus case
names (``tests/h2_corpus.py``), each with its cost and warm-up flag. The
SQL text, expected values and oracles stay in the corpora; every run looks
them up by name (``sql_session.write_plan``).

A case is left out only where its answer cannot be checked or its cost
does not fit a run, never because of the answer it gives:

- scalar cases outside the default session (UTC, ``en``), and those whose
  result PySpark's ``collect`` cannot carry back (maps with array keys,
  which ``eval_exprs`` returns as ``MapPairs``): a limit of the client,
  not of the engine;
- H2 cases with set-up fixtures, over ``H2_MAX_CHARS`` characters, or
  slower than ``H2_MAX_MS``.

A case or statement that raises or answers wrongly stays in the plan; runs
count it and report it. The scalar cases of at most ``CASE_MAX_CHARS``
characters are packed, in a seeded random order, into statements of four
length classes. Each statement records its cost, the faster of two runs,
so that every round spans the whole cost range (``sql_session.Pools``);
one statement in ``WARM_SHARE`` is set aside for warm-up. Run from the
repository root (about 20 minutes on 4 cores):

    python3 perfbench/run.py --regenerate
"""

from __future__ import annotations

import json
import random
import time

import harness as H
import sql_session as S

GEN_SEED = 20261018
# (low, high) statement length in characters, per length class
LENGTH_CLASSES = ((250, 600), (800, 1500), (1800, 3000), (3500, 4500))
WIDE_PER_CLASS = 120
WARM_SHARE = 6  # one in six statements is a warm-up statement
CASE_MAX_CHARS = 400  # keeps each statement within its length class
H2_MAX_CHARS = 2000
H2_MAX_MS = 10_000  # longer than a whole measured run


def scalar_cases(eng) -> tuple[dict, list[str]]:
    """Default-session cases whose results PySpark can carry back, and
    the names of those it cannot."""
    su = S.su
    cases = S.scalar_corpus()
    names = sorted(cases)
    got = su.eval_exprs(eng, [su.eval_sql(cases[n]["sql"], cases[n]["cat"])
                              for n in names])
    unrepresentable = [n for n, g in zip(names, got)
                       if isinstance(g, su.MapPairs)]
    wrong = [n for n, g in zip(names, got) if not isinstance(g, su.MapPairs)
             and (isinstance(g, Exception) or not su.values_match(
                 cases[n]["cat"], g, cases[n]["expected"], cases[n]["name"]))]
    print(f"scalar: {len(names)} default-session cases; left out"
          f" {len(unrepresentable)} maps with array keys: {unrepresentable};"
          f" kept although they raise or mismatch: {wrong}", flush=True)
    for n in unrepresentable:
        del cases[n]
    return cases, unrepresentable


def timed_twice(eng, sql: str) -> tuple[float, str | None]:
    """The faster of two runs in ms, and the error if the statement
    raised (its cost is then the time to the error). A statement slower
    than ``H2_MAX_MS`` runs once."""
    best = float("inf")
    err = None
    for _ in range(2):
        t0 = time.perf_counter()
        try:
            eng.sql(sql).collect()
        except Exception as e:  # noqa: BLE001 — kept, reported
            err = repr(e)[:200]
        best = min(best, (time.perf_counter() - t0) * 1e3)
        H.drop_cached(eng.spark)
        if best > H2_MAX_MS:
            break
    return round(best, 1), err


def build_wide(eng, cases: dict, rng: random.Random) -> list[dict]:
    names = sorted(n for n in cases if len(cases[n]["sql"]) <= CASE_MAX_CHARS)
    out = []
    for cls, (lo, hi) in enumerate(LENGTH_CLASSES):
        for made in range(WIDE_PER_CLASS):
            target = rng.randint(lo, hi)
            pick: list[str] = []
            chosen = set()
            while len(S.wide_sql(pick, cases)) < target:
                n = rng.choice(names)
                if n not in chosen:
                    chosen.add(n)
                    pick.append(n)
            sql = S.wide_sql(pick, cases)
            ms, err = timed_twice(eng, sql)
            if err:
                print(f"wide class {cls} statement {made} raised: {err}",
                      flush=True)
            out.append({"cls": cls, "warm": made % WARM_SHARE == 0,
                        "chars": len(sql), "ms": ms, "cases": pick})
        print(f"wide class {cls}: {WIDE_PER_CLASS} statements", flush=True)
    return out


def h2_reads(eng) -> tuple[list[dict], dict]:
    cand = [c for c in S.h2_corpus().values()
            if not c.get("setup") and not c.get("teardown")]
    kept, left_out, raised = [], {}, []
    for c in cand:
        if len(c["sql"]) > H2_MAX_CHARS:
            left_out[c["name"]] = f"over {H2_MAX_CHARS} characters"
            continue
        ms, err = timed_twice(eng, c["sql"])
        if ms > H2_MAX_MS:
            left_out[c["name"]] = f"{ms / 1e3:.0f} s, over {H2_MAX_MS} ms"
            continue
        if err:
            raised.append(c["name"])
        kept.append({"name": c["name"], "ms": ms})
    print(f"h2: kept {len(kept)} of {len(cand)}; left out: {left_out};"
          f" kept although they raise: {raised}", flush=True)
    order = sorted(range(len(kept)), key=lambda i: kept[i]["ms"])
    for rank, i in enumerate(order):
        kept[i]["warm"] = rank % WARM_SHARE == 0
    return kept, left_out


def main() -> None:
    eng, _ = S.open_session(H.Tracer(False))
    cases, unrepresentable = scalar_cases(eng)
    wide = build_wide(eng, cases, random.Random(GEN_SEED))
    h2, h2_left_out = h2_reads(eng)
    eng.spark.stop()
    left_out = dict(
        {n: "map with array keys: PySpark's collect cannot carry it back"
         for n in unrepresentable}, **h2_left_out)
    with open(S.DECK, "w", encoding="utf-8") as f:
        f.write('{"generated_by": "perfbench/gen_statements.py",\n'
                f'"left_out": {json.dumps(left_out, sort_keys=True)},\n'
                '"wide": [\n')
        f.write(",\n".join(json.dumps(s) for s in wide))
        f.write('\n],\n"h2": [\n')
        f.write(",\n".join(json.dumps(r) for r in h2))
        f.write("\n]}\n")


if __name__ == "__main__":
    main()
