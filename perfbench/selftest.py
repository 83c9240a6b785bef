"""Self-test of the benchmark's answer checks; needs no Spark.

Feeds each check the right answer, taken from the expected values or the
DuckDB oracle, and then a deliberately wrong one, and shows that it
accepts the first and rejects the second:

- ``sql_session`` wide SELECTs: ``values_match`` against the corpus's
  expected values;
- ``sql_session`` H2 reads and write read-backs: comparison with DuckDB;
- ``registry``: ``compare_frames`` against an entry's DuckDB oracle.

    python3 perfbench/selftest.py      # from the repository root
"""

from __future__ import annotations

import json
import os
import random
import sys

import harness as H


def perturb(rows: list[tuple]) -> list[tuple]:
    """The same rows with the first numeric or text cell changed."""
    out = [list(r) for r in rows]
    for r in out:
        for i, v in enumerate(r):
            if isinstance(v, bool) or v is None:
                continue
            if isinstance(v, (int, float)):
                r[i] = v + 1
                return [tuple(x) for x in out]
            if isinstance(v, str):
                r[i] = v + "x"
                return [tuple(x) for x in out]
    return [tuple(x) for x in out] + [tuple(out[0])] if out else [(1,)]


def main() -> int:
    import gen_data

    sys.path.insert(0, H.ROOT)
    gen_data.ensure(H.DATA, H.SF)
    import sql_session as S
    from presto_ads_spark.queries import load_all
    from presto_ads_spark.testing import compare_frames, duckdb_connection

    results = []

    def report(check: str, accepted_right: bool, rejected_wrong: bool):
        ok = accepted_right and rejected_wrong
        results.append(ok)
        print(f"{'ok  ' if ok else 'FAIL'} {check}: right answer "
              f"{'accepted' if accepted_right else 'REJECTED'}, wrong answer "
              f"{'rejected' if rejected_wrong else 'ACCEPTED'}")

    with open(S.DECK, encoding="utf-8") as f:
        deck = json.load(f)
    scalar, h2 = S.scalar_corpus(), S.h2_corpus()
    keys = deck["wide"][0]["cases"]
    right = [scalar[n]["expected"] for n in keys]
    k = next(i for i, n in enumerate(keys)
             if scalar[n]["cat"] in ("int", "str", "bool"))
    wrong = list(right)
    wrong[k] = (not right[k] if isinstance(right[k], bool)
                else right[k] + (1 if isinstance(right[k], int) else "x"))
    report(f"wide SELECT ({len(keys)} expressions)",
           not S.wide_mismatches(right, keys, scalar),
           bool(S.wide_mismatches(wrong, keys, scalar)))

    duck = S.gu.duckdb_h2_connection(H.DATA)
    case = next(c for c in (h2[r["name"]] for r in deck["h2"])
                if not c["count_only"] and c.get("tolerance") is None
                and "FROM orders" in c["sql"])
    want = [tuple(r) for r in duck.execute(S.duck_sql(case["sql"])).fetchall()]
    report(f"H2 read {case['name']}",
           S.h2_mismatch(want, case, duck) is None,
           S.h2_mismatch(perturb(want), case, duck) is not None)

    seq = dict(S.write_sequence("selftest", random.Random(0)))
    for kind in ("ctas", "insert"):
        duck.execute(S.duck_sql(seq[kind]))
    duck.execute(S.duck_sql(seq["delete"]))
    back = [tuple(r) for r in duck.execute(seq["readback"]).fetchall()]
    report("write read-back", S.gu.compare_pyrows(back, back) is None,
           S.gu.compare_pyrows(perturb(back), back) is not None)
    duck.execute("DROP TABLE bw_selftest")

    con = duckdb_connection(H.DATA)
    spec = load_all()["q05_local_supplier"]
    res = con.execute(spec.oracle)
    cols = [d[0] for d in res.description]
    rows = res.fetchall()
    def frame(rows):
        return H.Frame(cols, [dict(zip(cols, r)) for r in rows])

    report(f"registry {spec.name}",
           compare_frames(spec.name, frame(rows), con, spec.oracle).ok,
           not compare_frames(spec.name, frame(perturb(rows)), con,
                              spec.oracle).ok)
    return 0 if all(results) else 1


if __name__ == "__main__":
    os.chdir(H.ROOT)
    sys.exit(main())
