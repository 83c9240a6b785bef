"""Verbatim golden-file tier: every portable
presto-product-tests/sql-tests/testcases file, unmodified, against its
own inline expected rows (see tests/_golden_verbatim_util.py for the
format, fixture-data model, and comparison semantics).

Mirrors the benchto tiers' pattern (tests/test_tpch_benchto.py): files
are read from /root/reference at test time, run through ``Engine.sql``
with only the two documented substitutions (``tpch.tiny.X`` →
``tiny_X`` view; ``${mutableTables.hive.datatype}`` → per-case managed
table), and results compare against the file's own rows — no oracle.

The skip ledger is explicit and greppable: CATEGORY_SKIPS /
FILE_SKIPS below, plus the dynamic external-connector screen. A
meta-test pins the collected/skipped counts so silent shrinkage of
the tier fails loudly.
"""

from __future__ import annotations

import os
import re

import pytest

from tests._golden_verbatim_util import (
    TESTCASES_DIR,
    Case,
    _parse_dataset,
    compare_case,
    parse_case_file,
    register_verbatim_views,
)

# skip before parametrization: an empty CASES list would reach the ids
# callable as pytest's NOTSET placeholder and fail collection
if not os.path.isdir(TESTCASES_DIR):
    pytest.skip("reference testcases absent", allow_module_level=True)

# --- skip ledger -----------------------------------------------------------

CATEGORY_SKIPS: dict[str, str] = {
    "tpcds": "all 103 files already run verbatim in the benchto TPC-DS "
             "tier against a dsdgen oracle (tests/test_tpcds_benchto.py)",
    "catalog": "catalog/metadata listing surface (SHOW CATALOGS/SCHEMAS/"
               "COLUMNS over the hive catalog) — environment-bound",
    "system": "system.runtime / information_schema listings are pinned "
              "in tests/test_engine.py against THIS engine's catalog; "
              "the reference rows enumerate a live Presto cluster",
    "connectors": "mysql/sqlserver external-connector fixtures (no "
                  "broker/DB in the test environment)",
}

FILE_SKIPS: dict[str, str] = {
    "tables_with_header_and_footer.sql":
        "hive textfile skip.header.line.count/footer storage properties "
        "— hive-format table feature, not query surface",
    "tpch_connector/showSchemas.sql":
        "tpch connector's sf-schema listing (sf1…sf100000) — connector "
        "metadata, engine has no scale-factor schemas",
    "tpch_connector/showTables.sql":
        "SHOW TABLES FROM tpch.sf1 — connector schema namespace",
    # DuckDB's built-in dbgen matches canonical dbgen for every column
    # the official answer sets depend on (verified: q01 aggregates,
    # p_name predicates) EXCEPT the free-text v-string columns
    # (s_address/c_address, o_comment/s_comment): these five queries
    # select or filter on those, so their inline sf1 expecteds can't
    # reproduce here. The same queries run verbatim against a live
    # DuckDB oracle in the benchto tier (tests/test_tpch_benchto.py).
    **{
        f"hive_tpch/{q}.sql":
            "selects/filters dbgen free-text (address/comment) columns "
            "where DuckDB's dbgen deviates from canonical; query is "
            "oracle-verified in the benchto TPC-H tier instead"
        for q in ("q02", "q10", "q13", "q15", "q20")
    },
    "orc/select_varchar_orc_dictionary.sql":
        "LIMIT 1 over an unordered scan with a single-row expected — "
        "nondeterministic by the reference's own semantics; the ORC "
        "read itself is covered (fixture registered from the real ORC "
        "file; see test_golden_verbatim_meta)",
}

_REGISTERED_RE = re.compile(r"check\w+(Registered|Accessible)\.sql$")
_REGISTERED_SKIP = (
    "show functions signature table (name|return|args|kind|…) — the "
    "engine's SHOW FUNCTIONS is a documented deviation listing callable "
    "names + deviation notes (engine.py _show_functions); the function "
    "surface itself is pinned by the 6,500+ scalar-assert corpus"
)
_EXTERNAL_RE = re.compile(r"\b(?:mysql|postgres|sqlserver)\.\w+")


def _skip_reason(rel: str, text: str) -> str | None:
    top = rel.split("/", 1)[0]
    if top in CATEGORY_SKIPS:
        return CATEGORY_SKIPS[top]
    if rel in FILE_SKIPS:
        return FILE_SKIPS[rel]
    base = os.path.basename(rel)
    if _REGISTERED_RE.search(base) and "show functions" in text.lower():
        return _REGISTERED_SKIP
    if _EXTERNAL_RE.search(text):
        return "references an external-connector table (mysql/postgres/" \
               "sqlserver) — no live DB in the test environment"
    return None


def _collect() -> tuple[list[Case], list[tuple[str, str]]]:
    cases: list[Case] = []
    skips: list[tuple[str, str]] = []
    for root, _dirs, files in os.walk(TESTCASES_DIR):
        for fn in sorted(files):
            if not fn.endswith(".sql"):
                continue
            path = os.path.join(root, fn)
            rel = os.path.relpath(path, TESTCASES_DIR)
            with open(path, encoding="utf-8") as f:
                text = f.read()
            reason = _skip_reason(rel, text)
            if reason:
                skips.append((rel, reason))
                continue
            cases.append(path)
    parsed: list[Case] = []
    for path in cases:
        rel = os.path.relpath(path, TESTCASES_DIR)
        parsed.extend(parse_case_file(path, rel))
    return parsed, skips


CASES, SKIPS = _collect()


# --- engine over the verbatim fixture views --------------------------------


@pytest.fixture(scope="module")
def veng(spark):
    """Engine on a dedicated session: the verbatim fixtures (sf1
    prefixed TPC-H, tiny_* sf0.01, datatype/workers/empty/orc) must not
    shadow the driver-testdata views the rest of the suite uses."""
    from presto_ads_spark.engine import Engine

    s = spark.newSession()
    register_verbatim_views(s)
    return Engine(s, sf_dir=None)


_MUTABLE_RE = re.compile(r"\$\{mutableTables\.hive\.(\w+)\}")
_TINY_RE = re.compile(r"\btpch\.tiny\.(\w+)", re.IGNORECASE)

_PRESTO_TYPES = {"string": "varchar", "long": "bigint"}


def _mutable_ddl(dataset: str, table: str) -> str:
    schema, _rows = _parse_dataset(dataset)
    cols = []
    for col in schema.split(", "):
        name, typ = col.split(" ", 1)
        cols.append(f"{name} {_PRESTO_TYPES.get(typ, typ)}")
    return f"CREATE TABLE {table} ({', '.join(cols)})"


@pytest.mark.parametrize("case", CASES, ids=lambda c: c.id)
def test_golden_verbatim(veng, case):
    mutables: dict[str, str] = {}  # dataset -> table name

    def sub_mutable(m: re.Match) -> str:
        ds = m.group(1)
        if ds not in mutables:
            mutables[ds] = "mtab_" + re.sub(r"\W+", "_", case.id)
        return mutables[ds]

    stmts = [
        _TINY_RE.sub(r"tiny_\1", _MUTABLE_RE.sub(sub_mutable, s))
        for s in case.statements
    ]
    # tempto mutable-table states: ``name|created`` = empty table with
    # the dataset's schema, ``name|loaded`` = pre-populated with its rows
    states = {}
    for spec in (case.header.get("mutable_tables") or "").split(","):
        spec = spec.strip()
        if "|" in spec:
            ds, state = spec.split("|", 1)
            states[ds] = state.strip().rstrip(";").lower()
    created = []
    try:
        for ds, tbl in mutables.items():
            veng.sql(f"DROP TABLE IF EXISTS {tbl}").collect()
            veng.sql(_mutable_ddl(ds, tbl)).collect()
            created.append(tbl)
            if states.get(ds) == "loaded":
                schema, rows = _parse_dataset(ds)
                veng.spark.createDataFrame(rows, schema) \
                    .write.mode("append").insertInto(tbl)
        for st in stmts[:-1]:
            veng.sql(st).collect()
        df = veng.sql(stmts[-1])
        # YEAR-TO-MONTH interval values cannot cross the PySpark collect
        # boundary (YearMonthIntervalType.fromInternal unimplemented) —
        # render those COLUMNS to string engine-side before collecting.
        # The query itself still ran verbatim; this is a transport shim,
        # the same approach the scalar corpus uses (_scalar_util eval_sql)
        from pyspark.sql.types import YearMonthIntervalType

        if any(
            isinstance(f.dataType, YearMonthIntervalType)
            for f in df.schema.fields
        ):
            df = df.select(*[
                df[i].cast("string") if isinstance(
                    f.dataType, YearMonthIntervalType
                ) else df[i]
                for i, f in enumerate(df.schema.fields)
            ])
        rows = df.collect()
        err = compare_case(rows, case)
        assert err is None, f"{case.rel}: {err}"
    finally:
        for tbl in created:
            veng.sql(f"DROP TABLE IF EXISTS {tbl}").collect()


def test_golden_verbatim_meta():
    """Pin the tier's shape: every skip carries a reason, and the
    collected-case floor catches silent shrinkage. 370 .sql files total;
    103 tpcds (covered in the benchto tier) + catalog/system/connectors
    + the per-file ledger leaves 200+ runnable files."""
    assert all(reason for _rel, reason in SKIPS)
    files = {c.rel for c in CASES}
    assert len(files) >= 200, f"only {len(files)} files collected"
    assert len(CASES) >= len(files)  # convention files add cases
    # the ORC fixture skipped for LIMIT-nondeterminism is still read:
    # the view registration in veng would raise if the file were
    # unreadable (covered by any veng test), and the dataset parse
    # itself is exercised here
    schema, rows = _parse_dataset("datatype")
    assert len(rows) == 16 and "c_short_decimal" in schema
