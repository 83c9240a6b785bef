"""Golden gate for the rewrite layer: byte-identical output over the corpora.

Every statement the test corpora send through ``Engine.sql`` is rewritten
here without Spark, and a hash of the result (or the raised exception's
type and message) is compared with ``tests/rewrite_golden.json``:

- ``scalar/<name>``: each scalar-corpus case as ``SELECT <expr>``, under
  the case's own session zone, locale, start time and legacy flag;
- ``h2/<name>``, ``h2/<name>/setup<i>``, ``h2/<name>/teardown<i>``: every
  H2-corpus statement, including the 120 KB ``G4317``/``G4318``;
- ``golden/<name>`` and ``goldenlist/<name>``: the product-test corpus
  and ``tests/test_golden.py``'s hand-pinned cases;
- ``fuzz/<seed>/<i>``: the 4 x 70 statements ``tests/test_fuzz.py``
  draws from ``tools/fuzz_expressions.py``, with the locale it sets.

Two variants are frozen per statement: ``rewrite`` (``rewrite()``) and
``pre`` (the engine-side pre-passes of ``Engine._rewrite`` --
``infer_values_int_cols``, ``infer_derived_double_aliases``,
``rewrite_double_bigint_cast``, ``rewrite_double_div_ieee`` and
``rewrite_integral_column_division`` -- with the H2 fixture's column
sets frozen below). The benchmark's wide SELECTs and H2 reads come from
these same corpora.

A mismatch is a behaviour change of the rewrite layer, not a reason to
regenerate. After an intended change, regenerate with
``python tests/test_rewrite_golden.py`` from the repository root.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
GOLDEN_PATH = os.path.join(HERE, "rewrite_golden.json")
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.join(HERE, "..", "tools"))
sys.path.insert(0, os.path.join(HERE, ".."))

from presto_ads_spark import rewrite as rw  # noqa: E402

# the H2 fixture's catalog column classes (Engine over register_h2_views)
INT_COLS = frozenset({
    "custkey", "linenumber", "nationkey", "orderkey", "partkey",
    "regionkey", "shippriority", "size", "suppkey",
})
DOUBLE_COLS = frozenset({
    "acctbal", "discount", "extendedprice", "quantity", "retailprice",
    "tax", "totalprice",
})
NONINT_COLS = DOUBLE_COLS | frozenset({
    "brand", "clerk", "comment", "linestatus", "mktsegment", "name",
    "orderdate", "orderpriority", "orderstatus", "receiptdate",
    "returnflag", "shipdate", "type",
})
NONDOUBLE_COLS = INT_COLS | (NONINT_COLS - DOUBLE_COLS)

FUZZ_SEEDS = (20260814, 1, 7, 101)  # tests/test_fuzz.py SEEDS
FUZZ_N = 70
BIG = ("h2/G4317", "h2/G4318")
DEFAULT_SESSION = ("UTC", "en", None, False)


def _statements():
    """(key, sql, (zone, locale, start_ms, legacy)) for every statement."""
    import fuzz_expressions as fz
    import golden_corpus
    import h2_corpus
    import scalar_corpus
    from _scalar_util import eval_sql
    from test_golden import GOLDEN

    out, seen = [], set()

    def add(key, sql, session=DEFAULT_SESSION):
        n, k = 2, key
        while k in seen:  # the corpora reuse a few names
            k, n = f"{key}#{n}", n + 1
        seen.add(k)
        out.append((k, sql, session))

    for c in scalar_corpus.CASES:
        add(
            f"scalar/{c['name']}",
            "SELECT " + eval_sql(c["sql"], c["cat"]),
            (c.get("tz", "UTC"), c.get("locale", "en"), c.get("start_ms"),
             c.get("legacy", False)),
        )
    for c in h2_corpus.CASES:
        add(f"h2/{c['name']}", c["sql"])
        for i, st in enumerate(c.get("setup") or []):
            add(f"h2/{c['name']}/setup{i}", st)
        for i, st in enumerate(c.get("teardown") or []):
            add(f"h2/{c['name']}/teardown{i}", st)
    for c in golden_corpus.CASES:
        add(f"golden/{c['name']}", c["sql"])
    for name, sql, _ in GOLDEN:
        add(f"goldenlist/{name}", sql)
    for seed in FUZZ_SEEDS:
        # the draw order of fuzz_expressions.run_fuzz
        rng = random.Random(seed)
        for i in range(FUZZ_N):
            locale = "en"
            roll = rng.random()
            if roll < 0.15:
                q, _ = fz.gen_tstz_case(rng)
            elif roll < 0.20:
                q, _, locale = fz.gen_locale_case(rng)
            else:
                q = fz.gen_query(rng)
            add(f"fuzz/{seed}/{i}", q, ("UTC", locale, None, False))
    return out


def _digest(fn) -> str:
    rw._uniq_counter[0] = 0  # generated names count from the session start
    try:
        text = fn()
    except Exception as e:  # noqa: BLE001 -- a raise is frozen too
        return f"!{type(e).__name__}: {str(e)[:200]}"
    if not isinstance(text, str):
        text = json.dumps(sorted(text))
    return hashlib.sha256(text.encode("utf-8", "surrogatepass")).hexdigest()[:16]


def _pre(sql: str) -> str:
    int_cols = INT_COLS | (rw.infer_values_int_cols(sql) - NONINT_COLS)
    double_cols = DOUBLE_COLS | (
        rw.infer_derived_double_aliases(sql, DOUBLE_COLS) - NONDOUBLE_COLS
    )
    text = rw.rewrite_double_bigint_cast(sql, double_cols)
    text = rw.rewrite_double_div_ieee(text, double_cols)
    text = rw.rewrite_integral_column_division(text, int_cols)
    return json.dumps([sorted(int_cols), sorted(double_cols), text])


def _variants(sql, session):
    zone, locale, start_ms, legacy = session
    return {
        "rewrite": _digest(lambda: rw.rewrite(
            sql, session_zone=zone, session_locale=locale,
            session_start_ms=start_ms, legacy_timestamp=legacy,
        )),
        "pre": _digest(lambda: _pre(sql)),
    }


def _load():
    with open(GOLDEN_PATH) as f:
        return json.load(f)


def _check(select):
    golden = _load()
    stmts = [s for s in _statements() if select(s[0])]
    assert stmts
    bad = []
    for key, sql, session in stmts:
        want = golden.get(key)
        assert want is not None, f"{key}: not in {GOLDEN_PATH}"
        got = _variants(sql, session)
        for variant, h in got.items():
            if h != want[variant]:
                bad.append(
                    f"{key} [{variant}] session={session}: got {h} "
                    f"want {want[variant]} -- {sql[:120]!r}"
                )
    assert not bad, f"{len(bad)} differ:\n" + "\n".join(bad[:20])


@pytest.mark.parametrize("group", ["scalar", "h2", "golden", "fuzz"])
def test_rewrite_golden(group):
    _check(
        lambda k: k.split("/", 1)[0].startswith(group) and k not in BIG
    )


@pytest.mark.parametrize("key", BIG)
def test_rewrite_golden_large(key):
    _check(lambda k: k == key)


def test_rewrite_golden_covers_every_statement():
    keys = {k for k, _, _ in _statements()}
    assert keys == set(_load())


def _regenerate(path=GOLDEN_PATH):
    golden = {key: _variants(sql, session)
              for key, sql, session in _statements()}
    with open(path, "w") as f:
        f.write("{\n")
        f.write(",\n".join(
            f"{json.dumps(k)}: {json.dumps(golden[k], sort_keys=True)}"
            for k in sorted(golden)
        ))
        f.write("\n}\n")
    print(f"wrote {len(golden)} statements to {path}")


if __name__ == "__main__":
    _regenerate(*sys.argv[1:])
