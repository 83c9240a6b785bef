"""Engine facade — the rebuild's equivalent of Presto's query entry point.

Presto's lifecycle (SURVEY.md §3: /v1/statement → parse → analyze → plan →
optimize → fragment → schedule → execute) maps 1:1 onto what ``spark.sql``
already does (Catalyst parse/analyze/optimize + DAGScheduler stages), so the
engine is a thin facade: session management, catalog registration, the
Presto→Spark rewrite hook, and SET SESSION property translation
(reference: presto-main/.../SystemSessionProperties.java).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

from . import catalog as _catalog
from . import rewrite as rewrite_mod
from .rewrite import _literal_mask, rewrite, rewrite_integral_column_division
from .session import apply_runtime_conf, get_spark

# SET SESSION name → Spark conf key (subset of Presto's ~60 session props that
# have meaningful Spark equivalents; the rest are accepted and ignored with a
# warning, which matches how Presto treats unknown-catalog properties).
SESSION_PROPERTY_MAP: dict[str, str] = {
    "hash_partition_count": "spark.sql.shuffle.partitions",
    "join_distribution_type": "spark.sql.autoBroadcastJoinThreshold",  # see set_session
    # informational (like spill_enabled): spark.default.parallelism is read
    # from the SparkConf captured at context creation — a runtime conf.set
    # round-trips the string but does not change actual parallelism.
    "task_concurrency": "spark.default.parallelism",
    "spill_enabled": "spark.sql.shuffle.spill",  # informational
    "query_max_memory": "spark.sql.adaptive.advisoryPartitionSizeInBytes",
}

_SET_SESSION_RE = re.compile(
    r"^\s*SET\s+SESSION\s+(\w+)\s*=\s*(.+?)\s*$", re.IGNORECASE | re.DOTALL
)
_RESET_SESSION_RE = re.compile(
    r"^\s*RESET\s+SESSION\s+(\w+)\s*$", re.IGNORECASE
)
_SHOW_RE = re.compile(r"^\s*SHOW\s+(CATALOGS|SESSION)\s*$", re.IGNORECASE)
_SHOW_FUNCTIONS_RE = re.compile(r"^\s*SHOW\s+FUNCTIONS\s*$", re.IGNORECASE)

# SHOW FUNCTIONS deviation notes: families whose implementation is a shim
# or documented approximation get an explicit note column so a user can
# see the deviation surface without reading source (r3 verdict item #6).
_FUNCTION_NOTE_PREFIXES: tuple[tuple[str, str], ...] = (
    ("st_", "geospatial: planar subset of presto-geospatial; see "
            "functions/geospatial.py header for documented deviations"),
    ("geo_", "geospatial helper (internal)"),
    ("bing_", "geospatial: BingTileFunctions planar tile math"),
    ("regexp_", "regex: Java dialect (Presto default is Joni; RE2J "
                "mode not implemented)"),
    ("hmac_", "python UDF (no Spark-expression form; off hot path)"),
)
_FUNCTION_NOTES: dict[str, str] = {
    "split": "regex-escaped literal delimiter (Presto splits on literal)",
    "presto_ip_parse": "IPADDRESS boundary cast (arrow-vectorized pandas "
                       "UDF; literals fold to X'…' at rewrite time — "
                       "comparisons/grouping on the 16-byte binary form "
                       "are native JVM)",
    "presto_ip_try_parse": "TRY_CAST(varchar AS IPADDRESS) form of "
                           "presto_ip_parse (invalid input → NULL)",
    "presto_ip_format": "CAST(ipaddress AS VARCHAR) rendering (pandas "
                        "UDF; needed explicitly when the ip value is "
                        "routed through an alias — the rewrite's textual "
                        "type marker does not survive subquery aliasing)",
    "normalize_unicode": "python UDF (Presto normalize(); renamed — "
                         "NORMALIZE is a Spark keyword)",
    "kurtosis": "rewritten to Presto's unbiased sample formula via raw "
                "moments (Spark native is population g2)",
    "json_array_contains": "values compared through canonical string form",
    "is_json_scalar": "structural check on the leading character",
    "st_union": "collection merge, no boolean clipping of overlaps",
    "geometry_union": "collection merge, no boolean clipping of overlaps",
    "st_crosses": "DE-9IM approximation (intersects minus containment)",
    "st_overlaps": "DE-9IM approximation (intersects minus containment)",
    "st_touches": "boundary-contact approximation",
    "st_is_simple": "structural check (no self-intersection test)",
    "st_intersection": "exact for point-set/disjoint/equal/containment/"
                       "rect pairs and any single-ring polygon clipped "
                       "by a CONVEX polygon (Sutherland-Hodgman); "
                       "non-convex overlay returns NULL (reference: "
                       "Esri clipping engine)",
    "st_difference": "exact for clipping-free cases + convex-convex "
                     "pairs (half-plane decomposition, MULTIPOLYGON "
                     "pieces); other overlay returns NULL",
    "st_sym_difference": "exact for clipping-free cases + convex-convex "
                         "pairs; other overlay returns NULL",
    "st_is_valid": "structural check (ring closure + arity)",
    "st_buffer": "points only (32-gon disc); other shapes return NULL",
    "st_convex_hull": "python UDF (monotone chain; rollup path)",
    "parse_duration_seconds": "returns seconds as DOUBLE (Presto returns "
                              "interval)",
    "features": "positional double array (reference FeatureVector map)",
    "learn_classifier": "trains a one-vs-rest linear SVM (numpy Pegasos, "
                        "C=1) on the collected training cell — the "
                        "reference trains libsvm C_SVC with a LINEAR "
                        "kernel; capped at 10k training rows — use "
                        "llm/ml.py MLlib wrappers past that",
    "learn_regressor": "trains a least-squares line fit (reference: "
                       "libsvm EPSILON_SVR, linear kernel); capped at "
                       "10k training rows — use llm/ml.py MLlib "
                       "wrappers past that",
    "classify": "JVM-side linear scoring (dot product + argmax) over "
                "the trained one-vs-rest weights",
    "regress": "JVM-side linear scoring over the trained weights",
    "random": "bounded form lowered to floor(rand() * n)",
    "presto_json_canon": "per-row python UDF (compat path for CAST(row "
                         "AS JSON) array form) — reached only by NESTED "
                         "rows / non-provably-scalar operands since r7 "
                         "(flat rows lower to pure JVM expressions); "
                         "keep nested row→JSON casts out of large-scan "
                         "projections; map/array JSON casts stay "
                         "JVM-side",
    "date_add": "3-arg string-unit form; a syntactically DATE-typed "
                "third argument (DATE literal / CAST .. AS DATE) "
                "returns DATE like Presto, other date-typed "
                "expressions coerce to TIMESTAMP",
    "st_relate": "canonical DE-9IM masks evaluate via the predicate set "
                 "(equals/disjoint/within/contains/touches/crosses/"
                 "overlaps/intersects); other patterns return NULL "
                 "(reference: Esri general relate)",
}

# Presto-dialect functions implemented purely in the rewrite layer —
# invisible to Spark's catalog listing but callable through Engine.sql.
_REWRITE_ONLY_FUNCTIONS = [
    "features", "learn_classifier", "learn_regressor", "classify",
    "regress", "random",
]
_SYSTEM_RUNTIME_RE = re.compile(
    r"^\s*SELECT\s+\*\s+FROM\s+system\.runtime\.(nodes|queries)\s*$",
    re.IGNORECASE,
)
_SHOW_STATS_RE = re.compile(
    r"^\s*SHOW\s+STATS\s+FOR\s+(?:\(\s*(.+?)\s*\)|([\w.]+))\s*$",
    re.IGNORECASE | re.DOTALL,
)
_DELETE_RE = re.compile(
    r"^\s*DELETE\s+FROM\s+([\w.]+)(?:\s+WHERE\s+(.+?))?\s*$",
    re.IGNORECASE | re.DOTALL,
)
# Presto CTAS data clause (SqlBase.g4 createTableAsSelect WITH [NO] DATA);
# Spark has no equivalent — NO DATA keeps the schema, drops the rows
_CTAS_DATA_RE = re.compile(
    r"^(\s*CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?[\w.]+\s+AS\s+)(.+?)"
    r"\s+WITH\s+(NO\s+)?DATA\s*$",
    re.IGNORECASE | re.DOTALL,
)
# ALTER TABLE column surgery (Presto AddColumnTask/RenameColumnTask/
# DropColumnTask); Spark's v1 parquet tables only support ADD COLUMNS,
# so rename/drop run as a staged rebuild
_ADD_COLUMN_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+([\w.]+)\s+ADD\s+COLUMN\s+(\w+)\s+(.+?)\s*$",
    re.IGNORECASE | re.DOTALL,
)
_RENAME_COLUMN_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+([\w.]+)\s+RENAME\s+COLUMN\s+(\w+)\s+TO\s+(\w+)"
    r"\s*$",
    re.IGNORECASE,
)
_DROP_COLUMN_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+([\w.]+)\s+DROP\s+COLUMN\s+(\w+)\s*$",
    re.IGNORECASE,
)
# Presto CREATE [OR REPLACE] VIEW (CreateViewTask) → session temp view:
# Spark forbids permanent views over temp-view relations (the fixture
# tables), so views live session-scoped here (README Known gaps)
_CREATE_VIEW_RE = re.compile(
    r"^\s*CREATE\s+(OR\s+REPLACE\s+)?VIEW\s+([\w.]+)\s+AS\s+(.+)$",
    re.IGNORECASE | re.DOTALL,
)
# Transactions are no-ops under the reference's auto-commit connectors
# (README "Known gaps"); GRANT/REVOKE are no-ops under its default
# AllowAllAccessControl (presto-main/.../security/AllowAllAccessControl).
_NOOP_STMT_RE = re.compile(
    r"^\s*(START\s+TRANSACTION|COMMIT|ROLLBACK|GRANT\s.+|REVOKE\s.+?)\s*$",
    re.IGNORECASE | re.DOTALL,
)
# PREPARE name FROM <sql> / EXECUTE name USING v1, v2 / DEALLOCATE PREPARE
# (grammar: SqlBase.g4:33-100; Presto implements these client-side —
# StatementClientV1 substitutes parameters, so a text-level implementation
# is the faithful one).
_PREPARE_RE = re.compile(
    r"^\s*PREPARE\s+(\w+)\s+FROM\s+(.+)$", re.IGNORECASE | re.DOTALL
)
_EXECUTE_RE = re.compile(
    r"^\s*EXECUTE\s+(\w+)(?:\s+USING\s+(.+))?\s*$", re.IGNORECASE | re.DOTALL
)
_DEALLOCATE_RE = re.compile(
    r"^\s*DEALLOCATE\s+PREPARE\s+(\w+)\s*$", re.IGNORECASE
)
_EXPLAIN_ANALYZE_RE = re.compile(
    r"^\s*EXPLAIN\s+ANALYZE\s+(.+)$", re.IGNORECASE | re.DOTALL
)


class Engine:
    """``engine.sql(text)`` — Presto-compatible SQL over Spark.

    >>> eng = Engine(sf_dir="/root/testdata/sf0.01")
    >>> eng.sql("SELECT count(*) AS n FROM lineitem").collect()
    """

    def __init__(
        self,
        spark: SparkSession | None = None,
        sf_dir: str | None = None,
        register_functions: bool = True,
    ) -> None:
        self.spark = spark or get_spark()
        apply_runtime_conf(self.spark)
        if sf_dir:
            _catalog.register_views(self.spark, sf_dir)
        if register_functions:
            from .functions import register_all

            register_all(self.spark)
        self._prepared: dict[str, str] = {}
        # Presto session time zone (client-set in the reference; exposed
        # here as SET SESSION time_zone_id). Read by the TSWTZ layer for
        # zone-less coercions; the engine's established NTZ model stays
        # UTC-anchored regardless (README timestamp deviation).
        self.session_zone: str = "UTC"
        self.session_locale: str = "en"
        # Presto resolves named-zone offsets for TIME WITH TIME ZONE at
        # the query start (DateTimeFunctions 'HACK WARNING'); None =
        # rewrite-time now, settable for deterministic replay
        self.session_start_ms: int | None = None
        # Presto 0.216 legacy_timestamp session property: legacy casts of
        # zone-carrying strings APPLY the zone and land on the session-
        # zone local instant (TimestampOperators.castFromSlice →
        # DateTimeUtils.parseTimestampLiteral(timeZoneKey, …)); the
        # engine's NTZ model defaults to the non-legacy reading (zone
        # parsed then dropped — README timestamp deviation notes this)
        self.legacy_timestamp: bool = False
        # view-output type markers: char(n) lengths and ipaddress column
        # names persisted across CREATE VIEW statement boundaries so the
        # rewrite fixpoints keep working over view columns (round 10,
        # closes the README view-boundary deviation). Keyed PER VIEW and
        # applied only to statements that reference that view (round 11:
        # a bare-name global marker padded a same-named varchar column
        # from an unrelated relation); CREATE OR REPLACE recomputes the
        # entry, DROP VIEW removes it.
        self._view_markers: dict[str, tuple[dict[str, int], set[str]]] = {}
        self._int_cols = self._integral_columns()

    def _markers_for(self, text: str) -> tuple[dict[str, int], set[str]]:
        """Union of char(n)/ipaddress output markers over the views this
        statement actually references (word-boundary name scan outside
        string literals). Scoping per referenced view keeps a marker from
        leaking onto a same-named column of an unrelated relation; the
        residual ambiguity — a statement that reads BOTH the view and
        another relation exposing the same column name — is inherent to
        name-keyed text rewriting and stays conservative."""
        chars: dict[str, int] = {}
        ips: set[str] = set()
        if not self._view_markers:
            return chars, ips
        mask = _literal_mask(text)
        low = text.lower()
        for view, (vc, vi) in self._view_markers.items():
            for m in re.finditer(rf"\b{re.escape(view)}\b", low):
                if not mask[m.start()]:
                    chars.update(vc)
                    ips |= vi
                    break
        return chars, ips

    def _integral_columns(self) -> frozenset:
        """Lowercased names of integral-typed columns across registered
        tables (names whose type category conflicts between tables are
        dropped). Feeds the Presto column-typed integer-division rewrite
        (BigintOperators.java divide: bigint/bigint truncates)."""
        integral = {"tinyint", "smallint", "int", "integer", "bigint", "long"}
        floating = {"double", "float"}
        votes: dict[str, set[bool]] = {}
        dvotes: dict[str, set[bool]] = {}
        svotes: dict[str, set[bool]] = {}
        tvotes: dict[str, set[str]] = {}
        for tbl in self.spark.catalog.listTables():
            try:
                for f in self.spark.table(tbl.name).schema.fields:
                    t = f.dataType.simpleString()
                    tvotes.setdefault(f.name.lower(), set()).add(t)
                    votes.setdefault(f.name.lower(), set()).add(t in integral)
                    dvotes.setdefault(f.name.lower(), set()).add(t in floating)
                    # struct-free anywhere in the type → eligible for the
                    # JVM CAST(ROW(…) AS JSON) fast path
                    svotes.setdefault(f.name.lower(), set()).add(
                        "struct<" not in t
                    )
            except Exception:  # noqa: BLE001 — unreadable view: skip
                continue
        self._scalar_cols = frozenset(
            n for n, v in svotes.items() if v == {True}
        )
        # unanimous full Spark type per column name — feeds the
        # $internal$*_data_size_for_stats lowering (names typed
        # differently across tables are dropped: ambiguous)
        self._col_types = {
            n: next(iter(v)) for n, v in tvotes.items() if len(v) == 1
        }
        self._nonint_cols = frozenset(
            n for n, v in votes.items() if False in v
        )
        # double/real columns feed the CAST(double AS BIGINT) HALF_UP
        # lowering (DoubleOperators.java castToLong)
        self._double_cols = frozenset(
            n for n, v in dvotes.items() if v == {True}
        )
        # names ever voted non-double veto alias-derived widening (an
        # alias shadowing a non-double catalog column must not round)
        self._nondouble_cols = frozenset(
            n for n, v in dvotes.items() if False in v
        )
        return frozenset(n for n, v in votes.items() if v == {True})

    def _rewrite(self, text: str) -> str:
        # statement-local integral columns of inline VALUES relations
        # (a catalog name that is ever non-integral keeps its veto)
        int_cols = self._int_cols | (
            rewrite_mod.infer_values_int_cols(text) - self._nonint_cols
        )
        # widen the double-proof set through one subquery-alias level
        # (statement-local; catalog non-double names keep their veto)
        double_cols = self._double_cols | (
            rewrite_mod.infer_derived_double_aliases(text, self._double_cols)
            - self._nondouble_cols
        )
        text = rewrite_mod.rewrite_double_bigint_cast(text, double_cols)
        text = rewrite_mod.rewrite_double_div_ieee(text, double_cols)
        char_cols, ip_cols = self._markers_for(text)
        return rewrite(
            rewrite_integral_column_division(text, int_cols),
            json_scalar_cols=self._scalar_cols,
            char_cols=char_cols,
            ip_cols=ip_cols,
            col_types=self._col_types,
            session_zone=self.session_zone,
            session_locale=self.session_locale,
            session_start_ms=self.session_start_ms,
            legacy_timestamp=self.legacy_timestamp,
        )

    # -- statement entry point -------------------------------------------
    def sql(self, text: str) -> DataFrame:
        m = _SET_SESSION_RE.match(text)
        if m:
            return self.set_session(m.group(1), m.group(2).strip().strip("'"))
        m = _RESET_SESSION_RE.match(text)
        if m:
            return self.reset_session(m.group(1))
        m = _SHOW_RE.match(text)
        if m:
            return self._show(m.group(1).upper())
        if _SHOW_FUNCTIONS_RE.match(text):
            return self._show_functions()
        m = _DELETE_RE.match(text)
        if m:
            return self._delete(m.group(1), m.group(2) or "true")
        m = _CTAS_DATA_RE.match(text)
        if m:
            head, query, no_data = m.groups()
            if no_data:
                query = f"SELECT * FROM ({query}) __wnd WHERE 1 = 0"
            text = head + query
        m = _ADD_COLUMN_RE.match(text)
        if m:
            table, col, typ = m.groups()
            existing = {f.name.lower() for f in
                        self.spark.table(table).schema.fields}
            if col.lower() in existing:
                raise ValueError(f"Column '{col}' already exists")
            return self.spark.sql(
                self._rewrite(f"ALTER TABLE {table} ADD COLUMNS ({col} {typ})")
            )
        m = _RENAME_COLUMN_RE.match(text)
        if m:
            return self._rebuild_column(m.group(1), "rename", m.group(2),
                                        m.group(3))
        m = _DROP_COLUMN_RE.match(text)
        if m:
            return self._rebuild_column(m.group(1), "drop", m.group(2))
        if re.match(
            r"^\s*CREATE\s+TABLE\b(?!.*?\bAS\b)", text,
            re.IGNORECASE | re.DOTALL,
        ):
            # Presto's unparameterized varchar in column lists is
            # unbounded; Spark's VARCHAR requires a length → string
            text = re.sub(r"\bvarchar\b(?!\s*\()", "string", text,
                          flags=re.IGNORECASE)
        m = _CREATE_VIEW_RE.match(text)
        if m:
            replace, name, body = m.groups()
            name = name.split(".")[-1]
            df = self.spark.sql(
                f"CREATE {'OR REPLACE ' if replace else ''}TEMPORARY VIEW"
                f" {name} AS {self._rewrite(body)}"
            )
            # persist the view's output type markers (char(n) length,
            # ipaddress) and re-vote catalog types so later statements
            # see the view's columns. Seed with the markers of views the
            # BODY references (view-over-view); assignment (not update)
            # makes CREATE OR REPLACE a recompute.
            try:
                seed_chars, seed_ips = self._markers_for(body)
                chars, ips = rewrite_mod.statement_output_type_markers(
                    body, seed_chars, seed_ips
                )
                self._view_markers[name.lower()] = (chars, ips)
                self._int_cols = self._integral_columns()
            except Exception:  # noqa: BLE001 — markers are best-effort
                pass
            return df
        dm = re.match(
            r"^\s*DROP\s+(?:TEMPORARY\s+)?VIEW\s+(?:IF\s+EXISTS\s+)?([\w.]+)",
            text,
            re.IGNORECASE,
        )
        if dm:
            # stale markers must not outlive the typed column
            self._view_markers.pop(dm.group(1).split(".")[-1].lower(), None)
        if _NOOP_STMT_RE.match(text):
            return self.spark.range(0).select()
        m = _SYSTEM_RUNTIME_RE.match(text)
        if m:
            if m.group(1).lower() == "nodes":
                return self.system_runtime_nodes()
            return self.system_runtime_queries()
        m = _SHOW_STATS_RE.match(text)
        if m:
            return self._show_stats(m.group(1) or m.group(2))
        m = _EXPLAIN_ANALYZE_RE.match(text)
        if m:
            return self._explain_analyze(m.group(1))
        m = _PREPARE_RE.match(text)
        if m:
            self._prepared[m.group(1).lower()] = m.group(2).strip()
            return self.spark.range(0).select()
        m = _DEALLOCATE_RE.match(text)
        if m:
            self._prepared.pop(m.group(1).lower(), None)
            return self.spark.range(0).select()
        m = _EXECUTE_RE.match(text)
        if m and m.group(1).lower() in self._prepared:
            return self._execute_prepared(m.group(1).lower(), m.group(2))
        if re.search(
            r"\binformation_schema\s*\.\s*(tables|columns)\b", text,
            re.IGNORECASE,
        ):
            text = self._route_information_schema(text)
        return self.spark.sql(self._rewrite(text))

    def _route_information_schema(self, text: str) -> str:
        """information_schema.tables/columns (reference
        connector/informationSchema/) — synthesized from the session
        catalog into temp views, referenced by rewritten name."""
        cols = self.information_schema_columns()
        cols.createOrReplaceTempView("__info_schema_columns")
        tables = cols.select("table_schema", "table_name").distinct()
        tables.createOrReplaceTempView("__info_schema_tables")
        text = re.sub(
            r"\binformation_schema\s*\.\s*tables\b",
            "__info_schema_tables", text, flags=re.IGNORECASE,
        )
        return re.sub(
            r"\binformation_schema\s*\.\s*columns\b",
            "__info_schema_columns", text, flags=re.IGNORECASE,
        )

    def _explain_analyze(self, inner_sql: str) -> DataFrame:
        """EXPLAIN ANALYZE: execute, then return the AQE-final physical plan
        (ExplainAnalyzeOperator analogue, reference
        operator/ExplainAnalyzeOperator.java:34 — runs the query and
        annotates the plan; detailed per-operator metrics live in the Spark
        UI / status store)."""
        m = _DELETE_RE.match(inner_sql)
        if m:
            # DELETE goes through the engine's rewrite-and-swap path
            # (Spark parquet tables have no native DELETE); the analyzed
            # "plan" reports the delete like the reference's
            # ExplainAnalyze-over-TableDelete shape
            res = self.sql(inner_sql)
            n = res.collect()[0][0]
            plan = (
                f"Delete[{m.group(1)}] (rewrite-and-swap, "
                f"rows_deleted={n})"
            )
            return self._local_row(":plan AS query_plan", plan=plan)
        df = self.spark.sql(self._rewrite(inner_sql))
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()  # type: ignore[attr-defined]
        return self._local_row(":plan AS query_plan", plan=plan)

    def _show_stats(self, target: str) -> DataFrame:
        """``SHOW STATS FOR table | (query)`` — Presto's ShowStatsRewrite
        (sql/rewrite/ShowStatsRewrite.java) output shape: one row per
        column (data_size, distinct_values_count, nulls_fraction,
        low_value, high_value) plus a summary row carrying row_count.

        Stats are computed with a single aggregate pass over the relation
        (approx distinct = HLL, same estimator family Presto stats use);
        catalog-stats-only behavior would return NULLs for unanalyzed
        temp views, which is strictly less useful."""
        from pyspark.sql import functions as F

        if re.fullmatch(r"[\w.]+", target):
            df = self.spark.table(target)
        else:
            df = self.spark.sql(self._rewrite(target))
        simple = [
            f
            for f in df.schema.fields
            if f.dataType.typeName()
            not in ("array", "map", "struct", "binary")
        ]
        # TSWTZ/TWTZ model columns (struct<millis BIGINT, zone STRING>,
        # rewrite.py _rewrite_tstz) get instant-based stats like the
        # reference's TimestampWithTimeZoneType range (min/max/ndv over
        # the packed millis; low/high render as the UTC instant)
        def _is_tstz(dt) -> bool:
            return (
                dt.typeName() == "struct"
                and [x.name for x in dt.fields] == ["millis", "zone"]
            )

        tstz = [f for f in df.schema.fields if _is_tstz(f.dataType)]
        simple = simple + tstz
        aggs: list = [F.count(F.lit(1)).alias("__n")]
        for f in simple:
            if _is_tstz(f.dataType):
                c = F.col(f.name).getField("millis")
                lo = F.timestamp_millis(F.min(c))
                hi = F.timestamp_millis(F.max(c))
            else:
                c = F.col(f.name)
                lo, hi = F.min(c), F.max(c)
            aggs.append(F.approx_count_distinct(c).alias(f"{f.name}__ndv"))
            aggs.append(
                F.sum(c.isNull().cast("long")).alias(f"{f.name}__nulls")
            )
            aggs.append(lo.cast("string").alias(f"{f.name}__lo"))
            aggs.append(hi.cast("string").alias(f"{f.name}__hi"))
            if f.dataType.typeName() == "string":
                # UTF-8 byte size — the same measure the
                # $internal$*_data_size_for_stats aggregates report
                # (Block.getEstimatedDataSizeForStats slice length)
                aggs.append(
                    F.sum(F.octet_length(c).cast("long"))
                    .alias(f"{f.name}__sz")
                )
        stats = df.agg(*aggs).collect()[0].asDict()
        n = stats["__n"]
        rows = []
        for f in simple:
            rows.append(
                (
                    f.name,
                    float(stats.get(f"{f.name}__sz"))
                    if stats.get(f"{f.name}__sz") is not None
                    else None,
                    float(stats[f"{f.name}__ndv"]),
                    (stats[f"{f.name}__nulls"] / n) if n else None,
                    None,
                    stats[f"{f.name}__lo"],
                    stats[f"{f.name}__hi"],
                )
            )
        rows.append((None, None, None, None, float(n), None, None))
        return self.spark.createDataFrame(
            rows,
            "column_name string, data_size double, distinct_values_count double,"
            " nulls_fraction double, row_count double, low_value string,"
            " high_value string",
        )

    def _execute_prepared(self, name: str, using: str | None) -> DataFrame:
        stmt = self._prepared[name]
        if using:
            # split USING args at top-level commas (respects quotes/parens)
            args, depth, buf, in_str = [], 0, [], False
            for ch in using:
                if in_str:
                    buf.append(ch)
                    if ch == "'":
                        in_str = False
                elif ch == "'":
                    buf.append(ch)
                    in_str = True
                elif ch in "([":
                    depth += 1
                    buf.append(ch)
                elif ch in ")]":
                    depth -= 1
                    buf.append(ch)
                elif ch == "," and depth == 0:
                    args.append("".join(buf).strip())
                    buf = []
                else:
                    buf.append(ch)
            if buf:
                args.append("".join(buf).strip())
        else:
            args = []
        # Positional splice at literal-aware '?' sites: a '?' inside a
        # string literal (LIKE 'x?y') is data, and '?' characters inside a
        # bound value must never be re-scanned as parameters.
        mask = _literal_mask(stmt)
        holes = [i for i, ch in enumerate(stmt) if ch == "?" and not mask[i]]
        if len(args) > len(holes):
            raise ValueError("more USING values than ? parameters")
        if len(args) < len(holes):
            raise ValueError("unbound ? parameter in prepared statement")
        out, last = [], 0
        for pos, value in zip(holes, args):
            out.append(stmt[last:pos])
            out.append(value)
            last = pos + 1
        out.append(stmt[last:])
        return self.spark.sql(self._rewrite("".join(out)))

    def table(self, name: str) -> DataFrame:
        return self.spark.table(name)

    # -- session management ----------------------------------------------
    def set_session(self, name: str, value: str) -> DataFrame:
        if name.lower() in ("time_zone_id", "time_zone", "timezone_id"):
            # session zone for the TSWTZ layer (Presto sets this via the
            # client protocol; SET SESSION is the engine's knob)
            self.session_zone = value
            return self.spark.range(0).select()
        if name.lower() == "locale":
            # session locale for datetime name rendering/parsing
            # (rewrite.py _rewrite_locale_datetime)
            self.session_locale = value
            return self.spark.range(0).select()
        if name.lower() == "legacy_timestamp":
            self.legacy_timestamp = value.strip().lower() in ("true", "1")
            return self.spark.range(0).select()
        if name.lower() == "join_distribution_type":
            # Presto: PARTITIONED disables broadcast; AUTOMATIC/BROADCAST use it.
            thr = "-1" if value.upper() == "PARTITIONED" else "10485760"
            self.spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
        elif name.lower() in SESSION_PROPERTY_MAP:
            self.spark.conf.set(SESSION_PROPERTY_MAP[name.lower()], value)
        # Unknown properties are accepted and ignored (documented gap).
        return self.spark.range(0).select()

    def reset_session(self, name: str) -> DataFrame:
        if name.lower() in ("time_zone_id", "time_zone", "timezone_id"):
            self.session_zone = "UTC"
        elif name.lower() == "locale":
            self.session_locale = "en"
        elif name.lower() == "legacy_timestamp":
            self.legacy_timestamp = False
        elif name.lower() in SESSION_PROPERTY_MAP:
            self.spark.conf.unset(SESSION_PROPERTY_MAP[name.lower()])
        return self.spark.range(0).select()

    # -- system / information_schema connectors (reference:
    #    presto-main/.../connector/system/, connector/informationSchema/) --
    def information_schema_columns(self) -> DataFrame:
        """information_schema.columns synthesized from the session catalog."""
        rows = []
        for tbl in self.spark.catalog.listTables():
            for col in self.spark.catalog.listColumns(tbl.name):
                rows.append(
                    (tbl.database or "default", tbl.name, col.name, col.dataType)
                )
        return self.spark.createDataFrame(
            rows, "table_schema string, table_name string, column_name string, data_type string"
        )

    def system_runtime_nodes(self) -> DataFrame:
        """system.runtime.nodes analogue from the Spark status tracker."""
        sc = self.spark.sparkContext
        infos = sc._jsc.sc().statusTracker().getExecutorInfos()  # JVM API
        rows = [
            (
                e.host(),
                e.numRunningTasks(),
                int(e.totalOnHeapStorageMemory()),
            )
            for e in infos
        ]
        return self.spark.createDataFrame(
            rows, "host string, running_tasks int, onheap_storage_bytes long"
        )

    def _rebuild_column(self, table: str, action: str, col: str,
                        new_name: str | None = None) -> DataFrame:
        """RENAME/DROP COLUMN on a v1 managed table via staged rebuild
        (write-new, drop-old, rename — same swap DeleteOperator-style
        rewrites use; Spark only supports these natively on v2 tables)."""
        df = self.spark.table(table)
        names = {f.name.lower() for f in df.schema.fields}
        if col.lower() not in names:
            raise ValueError(f"Column '{col}' cannot be resolved")
        if action == "rename":
            if new_name.lower() in names:
                raise ValueError(f"Column '{new_name}' already exists")
            new_df = df.withColumnRenamed(col, new_name)
        else:
            if len(df.columns) == 1:
                raise ValueError("Cannot drop the only column in a table")
            new_df = df.drop(col)
        staging = f"{table}__rebuild_staging"
        new_df.write.mode("overwrite").saveAsTable(staging)
        self.spark.sql(f"DROP TABLE {table}")
        self.spark.sql(f"ALTER TABLE {staging} RENAME TO {table}")
        return self.spark.range(0).select()

    def _delete(self, table: str, condition: str) -> DataFrame:
        """``DELETE FROM t WHERE cond`` (DeleteOperator/
        MetadataDeleteOperator analogue): rewrite-and-swap on the managed
        table's storage via sources.delete_where, then refresh. One Spark
        job, the staged write, which also counts the deleted rows. Temp
        views over the read-only testdata are refused — in the reference,
        DELETE likewise needs a connector that supports it."""
        if self.spark.catalog.getTable(table).tableType == "TEMPORARY":
            raise ValueError(
                f"DELETE not supported on read-only view {table!r}"
            )
        desc = self.spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
        loc = next(r.data_type for r in desc if r.col_name == "Location")
        from .sources import delete_where

        path = loc[5:] if loc.startswith("file:") else loc
        n = delete_where(
            self.spark, path, self._rewrite(condition),
            schema=self.spark.table(table).schema,
        )
        self.spark.sql(f"REFRESH TABLE {table}")
        return self._local_row("CAST(:n AS BIGINT) AS rows_deleted", n=n)

    def _local_row(self, select: str, **params) -> DataFrame:
        """A one-row result that ``collect()`` serves without a Spark job:
        the projection over VALUES folds into a local relation
        (``createDataFrame`` and a SELECT without FROM each launch one).
        Values come in as named parameters, so no literal is spliced into
        the SQL text; no Column method is called either, because the
        first one loads IPython into the driver (PySpark's call-site
        capture imports it) and adds about 18 MB to its RSS."""
        return self.spark.sql(f"SELECT {select} FROM VALUES (0)", params)

    def system_runtime_queries(self) -> DataFrame:
        """system.runtime.queries analogue: recent Spark jobs from the
        status tracker (reference connector/system/ runtime tables —
        query_id/state/… map to job_id/status here)."""
        sc = self.spark.sparkContext
        tracker = sc._jsc.sc().statusTracker()
        rows = []
        for jid in list(tracker.getJobIdsForGroup(None)):
            info = tracker.getJobInfo(jid)
            if info.nonEmpty():
                j = info.get()
                rows.append(
                    (int(j.jobId()), str(j.status()), len(list(j.stageIds())))
                )
        return self.spark.createDataFrame(
            rows or [(-1, "NONE", 0)],
            "job_id int, status string, num_stages int",
        )

    # -- UDF registration (Plugin.getFunctions parity,
    #    reference presto-spi/.../Plugin.java:53) ------------------------
    def register_function(self, name: str, fn, return_type=None) -> None:
        """Register a user scalar function callable from SQL.

        Python UDFs are the slow path (SURVEY §2.4) — prefer
        ``register_sql_function`` for anything expressible as a Spark
        expression."""
        self.spark.udf.register(name, fn, return_type)

    def register_sql_function(self, create_stmt: str) -> None:
        """Register a SQL-bodied function (JVM-side, codegen-friendly)."""
        self.spark.sql(create_stmt)

    def _show_functions(self) -> DataFrame:
        """``SHOW FUNCTIONS`` with a deviation-notes column.

        The reference's form (ShowQueriesRewrite → information_schema)
        lists name/return/args/kind; Spark's session catalog doesn't
        expose SQL-function signatures, so this lists every callable
        function name plus an explicit ``note`` for shimmed or
        approximated families (NULL = faithful implementation)."""
        from .rewrite import FUNCTION_RENAMES

        names = [r[0] for r in self.spark.sql("SHOW FUNCTIONS").collect()]
        names.extend(
            n for n in _REWRITE_ONLY_FUNCTIONS if n not in names
        )
        # Presto spellings served by the rewrite layer's rename table
        # (json_extract → get_json_object, to_hex → hex, …) are part of
        # the callable surface and belong in the listing (the reference's
        # product tests assert exactly this — check*FunctionsRegistered)
        rename_note = {
            n: f"rename to Spark native {t}"
            for n, t in FUNCTION_RENAMES.items()
            if n not in names
        }
        names.extend(rename_note)

        def note_for(name: str) -> str | None:
            low = name.lower()
            if low in rename_note:
                return rename_note[low]
            if low in _FUNCTION_NOTES:
                return _FUNCTION_NOTES[low]
            for prefix, note in _FUNCTION_NOTE_PREFIXES:
                if low.startswith(prefix):
                    return note
            return None

        return self.spark.createDataFrame(
            [(n, note_for(n)) for n in sorted(names)],
            "function string, note string",
        )

    def _show(self, what: str) -> DataFrame:
        if what == "CATALOGS":
            return self.spark.createDataFrame(
                [(c.name,) for c in self.spark.catalog.listCatalogs()],
                "catalog string",
            )
        confs = [
            (k, self.spark.conf.get(k, None))
            for k in sorted(set(SESSION_PROPERTY_MAP.values()))
        ]
        return self.spark.createDataFrame(confs, "name string, value string")
