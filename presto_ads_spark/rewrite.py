"""Presto-SQL → Spark-SQL rewrite layer.

Spark SQL parses ~95% of Presto 0.216's grammar directly (SURVEY.md §2.3;
grammar: reference presto-parser/.../SqlBase.g4). The gaps are closed here by
*string-level* rewriting applied before ``spark.sql``:

- function renames (``approx_distinct`` → ``approx_count_distinct``, …)
- ``TABLESAMPLE BERNOULLI(p)`` → ``TABLESAMPLE (p PERCENT)``
- ``CROSS JOIN UNNEST(expr) [WITH ORDINALITY] AS t(c[, o])`` →
  ``LATERAL VIEW [pos]explode(expr) t AS [o,] c``
- MySQL-style datetime patterns in ``date_format``/``date_parse`` literals
  (Presto's DateTimeFunctions.java uses MySQL ``%Y-%m-%d``; Spark uses
  java.time patterns) — see functions/datetime_compat.py.

The rewriter is deliberately conservative: it only touches text outside
single-quoted string literals, and every rewrite has a unit test.

Literal and bracket structure is decided in one place, the ``_Scan``
scanner below (via ``_scan``, ``_outside`` and ``_find_outside``): which
characters sit inside a literal, where a bracket closes, what is at the
top level. Passes ask it instead of walking the text themselves.
"""

from __future__ import annotations

import functools
import math
import re
from bisect import bisect_left
from collections.abc import Callable

# --- literal and bracket structure --------------------------------------
# _Scan is the one place where the layer decides which characters sit in
# a '…' literal and how brackets pair up. Every quote toggles the literal
# state (a doubled '' escape reads as two adjacent literals: the mask is
# the same), and brackets inside literals do not count. Bracket questions
# name the set of openers they count: "(" (parens only), "[" (square
# brackets only), "([" (both kinds at one depth) or "([<" (angle
# brackets of type spellings too).

_STRUCT_RE = re.compile(r"'[^']*(?:'|\Z)|[()\[\]<>]")
_CLOSERS = str.maketrans("([<", ")]>")
_AS_RE = re.compile(r"\bAS\b", re.IGNORECASE)
_SPACED_AS_RE = re.compile(r"(?= AS )", re.IGNORECASE)  # overlapping
_FROM_RE = re.compile(r"\bFROM\b", re.IGNORECASE)
_ON_RE = re.compile(r"\bON\b", re.IGNORECASE)
_USING_RE = re.compile(r"\bUSING\b", re.IGNORECASE)
_CONCAT_OP_RE = re.compile(r"\|\|")


class _Scan:
    """Literal spans, bracket depth and bracket partners of one text,
    from one O(n) pass; per-bracket-set tables are built on first use.
    Bracket questions count parens by default; list splitting counts
    parens and square brackets. Get one through ``_scan(sql)``, which
    keeps recent texts."""

    __slots__ = ("sql", "spans", "_brackets", "_mask", "_tables")

    def __init__(self, sql: str):
        self.sql = sql
        self.spans: list[tuple[int, int]] = []  # literal [start, end)
        self._brackets: list[tuple[int, str]] = []
        for m in _STRUCT_RE.finditer(sql):
            if m.group()[0] == "'":
                self.spans.append(m.span())
            else:
                self._brackets.append((m.start(), m.group()))
        self._mask: list[bool] | None = None
        self._tables: dict[str, tuple] = {}

    @property
    def mask(self) -> list[bool]:
        """True where sql[i] is inside a literal (quotes included). The
        list is shared by every caller of this scan: read it only."""
        if self._mask is None:
            mask = [False] * len(self.sql)
            for a, b in self.spans:
                mask[a:b] = [True] * (b - a)
            self._mask = mask
        return self._mask

    def _table(self, opens: str) -> tuple:
        """(positions, level after each, closes by level after, opens by
        level after) over the brackets of one set."""
        t = self._tables.get(opens)
        if t is None:
            closes = opens.translate(_CLOSERS)
            pos: list[int] = []
            level: list[int] = []
            ends: dict[int, list[int]] = {}
            starts: dict[int, list[int]] = {}
            d = 0
            for i, c in self._brackets:
                if c in opens:
                    d += 1
                    starts.setdefault(d, []).append(i)
                elif c in closes:
                    d -= 1
                    ends.setdefault(d, []).append(i)
                else:
                    continue
                pos.append(i)
                level.append(d)
            t = self._tables[opens] = (pos, level, ends, starts)
        return t

    def depth(self, i: int, opens: str = "(") -> int:
        """Bracket depth just before sql[i], counted from the start of
        the text (negative past an unpaired close)."""
        pos, level, _, _ = self._table(opens)
        k = bisect_left(pos, i)
        return level[k - 1] if k else 0

    def match(self, start: int, opens: str = "(") -> int:
        """Index of the close ending the group that is open at
        ``start`` (the first close at or after it that takes the depth
        below its level there), or -1 when the text ends first."""
        ends = self._table(opens)[2].get(self.depth(start, opens) - 1)
        if ends:
            k = bisect_left(ends, start)
            if k < len(ends):
                return ends[k]
        return -1

    def close(self, start: int, opens: str = "(") -> int:
        """Index just past that close; len(sql) when the group is
        unclosed."""
        k = self.match(start, opens)
        return k + 1 if k >= 0 else len(self.sql)

    def open_of(self, i: int, opens: str = "(") -> int:
        """Index of the opener of the group that contains sql[i] (for a
        close: its partner), or -1 when there is none."""
        starts = self._table(opens)[3].get(self.depth(i, opens))
        if starts:
            k = bisect_left(starts, i)
            if k:
                return starts[k - 1]
        return -1

    def top(self, i: int, opens: str = "(") -> bool:
        """sql[i] is outside literals and at depth 0."""
        return not self.mask[i] and self.depth(i, opens) == 0

    def top_matches(self, pat: re.Pattern, opens: str = "(") -> list:
        """Matches of ``pat`` that start outside literals at depth 0."""
        return [m for m in _outside(pat, self.sql) if not self.depth(
            m.start(), opens)]

    def last_top(self, pat: re.Pattern, opens: str = "(") -> int | None:
        """Start of the last top-level match of ``pat``, or None."""
        ms = self.top_matches(pat, opens)
        return ms[-1].start() if ms else None

    def balanced(self, opens: str = "(") -> bool:
        """No close goes below depth 0 and every group closes."""
        level = self._table(opens)[1]
        return min(level, default=0) >= 0 and not (level and level[-1])

    def run(self, start: int, stop: re.Pattern | None = None,
            opens: str = "([") -> list[tuple[int, int]]:
        """[start, end) spans of the comma-separated items from
        ``start`` on. The run ends at the close of the group that is open
        there, at the first match of ``stop`` at that level outside
        literals, or at the end of the text."""
        sql, level = self.sql, self.depth(start, opens)

        def at_level(k):
            return not self.mask[k] and self.depth(k, opens) == level

        end = self.match(start, opens)
        end = len(sql) if end < 0 else end
        if stop is not None:
            m = next((m for m in stop.finditer(sql, start, end)
                      if at_level(m.start())), None)
            end = m.start() if m else end
        cuts = [k for k in range(start, end) if sql[k] == "," and at_level(k)]
        bounds = [start - 1, *cuts, end]
        return [(a + 1, b) for a, b in zip(bounds, bounds[1:])]

    def split(self, seps: str = ",", opens: str = "([") -> list[str]:
        """The text cut at every top-level character of ``seps``."""
        sql = self.sql
        cuts = [i for i, c in enumerate(sql)
                if c in seps and self.top(i, opens)]
        bounds = [-1, *cuts, len(sql)]
        return [sql[a + 1 : b] for a, b in zip(bounds, bounds[1:])]

    def items(self) -> list[str]:
        """Top-level comma items of an argument list, stripped, empty
        ones dropped."""
        return [a for a in (a.strip() for a in self.split()) if a]

    def flat(self, opens: str = "([") -> str:
        """The text with literals, brackets and everything inside
        brackets blanked: regexes over it see only the top level."""
        chars = list(self.sql)
        for a, b in self.spans:
            chars[a:b] = " " * (b - a)
        pos, level, _, _ = self._table(opens)
        for i, d, nxt in zip(pos, level, [*pos[1:], len(chars)]):
            # a bracket, and the stretch after it when that is nested
            end = nxt if d else i + 1
            chars[i:end] = " " * (end - i)
        return "".join(chars)


@functools.lru_cache(maxsize=64)
def _scan(sql: str) -> _Scan:
    return _Scan(sql)


def _splice(sql: str, edits) -> str:
    """``sql`` with each non-overlapping (start, end, text) edit applied."""
    out, last = [], 0
    for a, b, text in sorted(edits, key=lambda e: e[0]):
        out += (sql[last:a], text)
        last = b
    out.append(sql[last:])
    return "".join(out)


def _outside(pat: re.Pattern, sql: str, pos: int = 0):
    """Matches of ``pat`` from ``pos`` on whose first character is
    outside a literal. The regex runs first; the literal state at a
    candidate comes from the quote parity before it."""
    last, odd = 0, 0
    for m in pat.finditer(sql, pos):
        s = m.start()
        odd ^= sql.count("'", last, s) & 1
        last = s
        if not odd and sql[s] != "'":
            yield m


def _find_outside(pat: re.Pattern, sql: str, pos: int = 0):
    """First match of ``pat`` from ``pos`` on outside a literal, or None."""
    m = pat.search(sql, pos)  # most calls find no candidate at all
    return m and next(_outside(pat, sql, m.start()), None)


# Presto name -> Spark name, applied as word-boundary renames outside string
# literals. Only pure renames belong here; anything needing argument surgery
# gets a regex rule or a registered compat function instead.
# Reference inventory: presto-main/.../metadata/FunctionRegistry.java:418-660.
_SQL_STR_LIT = r"'(?:[^']|'')*'"  # Presto literal: '' is the only escape

FUNCTION_RENAMES: dict[str, str] = {
    "approx_distinct": "approx_count_distinct",
    "approx_percentile": "percentile_approx",
    # HLL sketch aggregates (mergeable across groups, Presto approx_set /
    # merge → Spark DataSketches HLL)
    "approx_set": "hll_sketch_agg",
    # Presto spelling ST_AsBinary lowercases to Spark 4.1's BUILT-IN
    # st_asbinary (GEOMETRY-typed), which a temp SQL UDF cannot shadow —
    # the one geospatial spelling that must be renamed here instead of
    # aliased at registration (functions/geospatial.py
    # SPARK_BUILTIN_COLLISIONS).
    "st_asbinary": "st_as_binary",
    "arbitrary": "any_value",
    "bool_and": "every",
    "bool_or": "some",
    "strpos": "instr",
    "cardinality": "size",
    # Presto element_at returns NULL on missing key / out-of-bounds; ANSI
    # Spark's element_at errors → the try_ variant matches Presto.
    "element_at": "try_element_at",
    # Presto repeat(x, n) builds an array (ArrayFunctions); Spark's repeat
    # is string repetition.
    "repeat": "array_repeat",
    "json_extract_scalar": "get_json_object",
    # json_extract returns JSON text — get_json_object does too for
    # object/array paths (JsonExtract.java vs GetJsonObject).
    "json_extract": "get_json_object",
    "array_union": "array_union",  # identity — documents parity
    "regexp_like": "rlike",
    # DOUBLE-returning shim (Presto keeps fractional seconds; Spark's
    # unix_timestamp is BIGINT and truncates).
    "to_unixtime": "presto_to_unixtime",
    # Presto from_unixtime(x) returns TIMESTAMP (DateTimeFunctions.java);
    # Spark's builtin returns a formatted STRING and cannot be shadowed.
    "from_unixtime": "timestamp_seconds",
    # Teradata compat (presto-teradata-functions DateFormatFunctions.java):
    # the from_iso8601 renames below emit to_timestamp/to_date, which
    # _rename_functions does not rename a second time.
    "to_char": "teradata_to_char",
    "to_date": "teradata_to_date",
    "to_timestamp": "teradata_to_timestamp",
    "from_iso8601_timestamp": "to_timestamp",
    "__spark_to_timestamp": "to_timestamp",
    # engine-internal java-pattern emissions (timestamp→varchar render,
    # TIME casts): the sentinel keeps _rewrite_datetime_patterns from
    # re-translating the pattern as MySQL
    "__spark_date_format": "date_format",
    "from_iso8601_date": "to_date",
    # Spark base64 MIME-folds past 76 chars; Presto is continuous
    "to_base64": "presto_to_base64",
    "from_base64": "unbase64",
    "to_hex": "hex",
    "from_hex": "unhex",
    "truncate": "truncate_num",  # registered compat fn (Presto truncate(x))
    # java.lang.Math log semantics: 0 → -Infinity, negative → NaN (Spark's
    # ln/log2/log10 return NULL for non-positive); Presto's 2-arg log is
    # log(VALUE, BASE) — the REVERSE of Spark's log(base, value)
    # (MathFunctions.java:260-301) — so all four route through compat fns.
    "ln": "presto_ln",
    "log2": "presto_log2",
    "log10": "presto_log10",
    "log": "presto_logb",
    # Presto xxhash64(varbinary) → big-endian VARBINARY of XXH64(bytes,
    # seed 0); Spark's native xxhash64 is value-serialized with seed 42
    "xxhash64": "presto_xxhash64",
    # Presto contains(array, elem) (ArrayContains.java); 0.216 has no string
    # contains, so the blanket rename is faithful.
    # contains → exists-equality (not array_contains: Spark demands exact
    # struct FIELD NAMES match; = compares positionally) — see
    # _rewrite_contains.
    # Presto zip pads the shorter array with NULLs — same as arrays_zip.
    "zip": "arrays_zip",
    "levenshtein_distance": "levenshtein",
    # DateTimeFunctions.java @ScalarFunction aliases
    "yow": "year_of_week",
    "dow": "day_of_week",
    "doy": "day_of_year",
    # Presto digests are varbinary→varbinary (VarbinaryFunctions.java);
    # Spark's md5/sha1 return hex STRINGs and can't be shadowed → shims.
    "md5": "presto_md5",
    "sha1": "presto_sha1",
    "sha256": "presto_sha256",
    "sha512": "presto_sha512",
    # FailureFunction.java fail(msg) — aborts the query with the message.
    "fail": "raise_error",
    # Presto split_part returns NULL past the last field; Spark returns ''.
    "split_part": "presto_split_part",
    # Presto chr is codepoint→char; Spark chr is mod-256 single-byte.
    "chr": "presto_chr",
    # ngrams(array, n) (ArrayNgramsFunction) — shim named array_ngrams.
    "ngrams": "array_ngrams",
    # bitwise_and_agg/bitwise_or_agg (AggregationCompiler registrations) —
    # Spark's bit_and/bit_or aggregates are identical fold semantics.
    "bitwise_and_agg": "bit_and",
    "bitwise_or_agg": "bit_or",
    # Presto bit_count is 2-arg (num, bits) — BitwiseFunctions.java:31;
    # Spark's builtin is 1-arg and can't be shadowed.
    "bit_count": "presto_bit_count",
}

# Presto grammar allows bare (paren-less) time keywords. localtime /
# current_time map onto the epoch-anchored TIME emulation (rewrite of TIME
# literals below); localtimestamp has a Spark call form.
_BARE_TIME_KEYWORD_RE = re.compile(
    r"\b(localtimestamp|localtime|current_time)\b(?!\s*\()", re.IGNORECASE
)
_BARE_TIME_TARGETS = {
    "localtimestamp": "localtimestamp()",
    "localtime": "localtime()",
    "current_time": "localtime()",
}


def _rewrite_bare_time_keywords(chunk: str) -> str:
    return _BARE_TIME_KEYWORD_RE.sub(
        lambda m: _BARE_TIME_TARGETS[m.group(1).lower()], chunk
    )


def _apply_outside_literals(sql: str, fn: Callable[[str], str]) -> str:
    out, last = [], 0
    for a, b in _scan(sql).spans:
        out += (fn(sql[last:a]), sql[a:b])
        last = b
    out.append(fn(sql[last:]))
    return "".join(out)


_UNNEST_HEAD_RE = re.compile(r"CROSS\s+JOIN\s+UNNEST\s*\(", re.IGNORECASE)
_UNNEST_TAIL_RE = re.compile(
    r"(\s+WITH\s+ORDINALITY)?\s+(?:AS\s+)?(\w+)\s*\(\s*(\w+)"
    r"(?:\s*,\s*(\w+))?(?:\s*,\s*(\w+))?(?:\s*,\s*(\w+))?"
    r"(?:\s*,\s*(\w+))?(?:\s*,\s*(\w+))?\s*\)",
    re.IGNORECASE,
)


def _values_bound_struct_fields(ident: str, sql: str) -> list[str] | None:
    """Struct field names for a bare UNNEST operand bound by an inline
    ``(VALUES …) [AS] rel(c1, .., ck)`` relation in the same statement:
    the first row's cell at the column's position reveals the element
    shape (TestUnnest.java's ``CROSS JOIN UNNEST(a) t(x, y)`` sites).
    Catalog columns are not traced — schema-dependent, documented."""
    name = ident.split(".")[-1].strip().lower()
    for m in re.finditer(r"\(\s*VALUES\b", sql, re.IGNORECASE):
        close = _scan(sql).close(m.start() + 1)
        tail = re.match(
            r"\s*(?:AS\s+)?(\w+)\s*\(([^()]*)\)", sql[close:], re.IGNORECASE
        )
        if not tail:
            continue
        cols = [c.strip().lower() for c in tail.group(2).split(",")]
        if name not in cols:
            continue
        pos = cols.index(name)
        body = sql[m.start() + 1 : close - 1].strip()
        rows = _scan(body[len("VALUES") :].strip()).items()
        if not rows:
            continue
        r0 = rows[0].strip()
        cells = _scan(r0[1:-1]).items() if r0.startswith("(") else [r0]
        if pos < len(cells):
            return _unnest_struct_fields(cells[pos])
    return None


def _unnest_default_cols(args, n: int, ordinality: bool, ctx=None) -> list[str]:
    """Synthesized column names for alias-less UNNEST: one per scalar
    array, one PER FIELD for array-of-ROW operands — declared CAST field
    names become the output column names (Presto exposes them for
    by-name selection: ``SELECT x FROM UNNEST(CAST(… ROW(x int, …)))``),
    plus the trailing ordinal."""
    cols: list[str] = []
    for k, a in enumerate(args):
        fs = _unnest_struct_fields(a, ctx)
        if fs is None:
            cols.append(f"__uc{n}_{k}")
        else:
            for f in fs:  # two unnamed-ROW args both yield col1.. — dedup
                cols.append(f if f not in cols else f"{f}__{k}")
    if ordinality:
        cols.append(f"__uc{n}_ord")
    return cols


def _unnest_struct_fields(arg: str, ctx: str | None = None) -> list[str] | None:
    """Field names when ``arg`` is textually an array-of-ROW — Presto's
    UNNEST flattens ROW elements into one output column PER FIELD
    (UnnestOperator.java; TestUnnest.java). Detectable forms:

    - ``CAST(… AS ARRAY(ROW(x int, y varchar)))`` → declared names
    - ``ARRAY[ROW(e1, .., ef), …]`` → Spark's positional col1..colf

    Returns None for scalar/map/unprovable operands (catalog columns
    need schema knowledge — those keep the single-struct-column
    behavior and a documented deviation)."""
    s = arg.strip()
    if re.match(r"CAST\s*\(", s, re.IGNORECASE):
        t = re.search(r"\bAS\s+ARRAY\s*\(\s*ROW\s*\(", s, re.IGNORECASE)
        if not t:
            return None
        close = _scan(s).close(t.end())
        names = []
        for f in _scan(s[t.end() : close - 1]).items():
            fm = re.match(r'\s*([A-Za-z_]\w*|"[^"]+")\s+\S', f)
            if not fm:
                return None  # unnamed field — positional access unsafe
            names.append(fm.group(1).strip('"'))
        return names
    # literal spellings: raw Presto ARRAY[ROW(…)] and the already-lowered
    # array(struct(…)) (value-position rewrites run before the UNNEST pass)
    m = re.match(
        r"(?:ARRAY\s*\[|ARRAY\s*\()\s*(?:ROW|struct)\s*\(", s, re.IGNORECASE
    )
    if m:
        close = _scan(s).close(m.end())
        nf = len(_scan(s[m.end() : close - 1]).items())
        return [f"col{k + 1}" for k in range(nf)]
    if ctx is not None and re.fullmatch(r"[A-Za-z_]\w*(\.[A-Za-z_]\w*)?", s):
        return _values_bound_struct_fields(s, ctx)
    return None


def _unnest_lateral(args, ordinality, alias, cols, ctx=None) -> str:
    """LATERAL VIEW text for UNNEST over 1 array/map or a 2-array zip
    (shorter side null-padded), with Presto's 1-based ordinal LAST.
    Array-of-ROW operands flatten one column per field (Presto
    semantics): the plain single-array case is a direct ``inline``;
    every other struct-bearing shape walks index positions and builds
    one flat struct per row, so a single inline names all columns."""
    names = ", ".join(cols)
    fieldss = [_unnest_struct_fields(a, ctx) for a in args]
    if any(f is not None for f in fieldss):
        if len(args) == 1 and not ordinality:
            return f"LATERAL VIEW inline({args[0]}) {alias} AS {names}"
        hi = (
            "greatest(" + ", ".join(f"size({a})" for a in args) + ")"
            if len(args) > 1
            else f"size({args[0]})"
        )
        parts = []
        for a, fs in zip(args, fieldss):
            if fs is None:
                parts.append(f"try_element_at({a}, __zi)")
            else:
                parts.extend(
                    f"try_element_at({a}, __zi).{f}" for f in fs
                )
        if ordinality:
            parts.append("__zi")
        inner = ", ".join(
            f"{p} AS __uf{i}" for i, p in enumerate(parts)
        )
        return (
            f"LATERAL VIEW inline(CASE WHEN {hi} < 1 THEN array() ELSE"
            f" transform(sequence(1, {hi}), __zi -> struct({inner})) END)"
            f" {alias} AS {names}"
        )
    if len(args) == 2:
        if ordinality:
            # zip + ordinal: walk index positions explicitly; guard the
            # both-empty case — sequence(1, 0) steps DOWN to [1, 0] and
            # would emit two phantom all-NULL rows where Presto emits none
            hi = f"greatest(size({args[0]}), size({args[1]}))"
            return (
                f"LATERAL VIEW inline(transform("
                f"CASE WHEN {hi} < 1 THEN array() "
                f"ELSE sequence(1, {hi}) END,"
                f" __zi -> struct(try_element_at({args[0]}, __zi),"
                f" try_element_at({args[1]}, __zi), __zi)))"
                f" {alias} AS {names}"
            )
        return (
            f"LATERAL VIEW inline(arrays_zip({args[0]}, {args[1]}))"
            f" {alias} AS {names}"
        )
    return _unnest_replacement(
        args[0],
        ordinality,
        alias,
        cols[0],
        cols[1] if len(cols) > 1 else None,
    )


def _rewrite_unnest_all(sql: str) -> str:
    """Rewrite every CROSS JOIN UNNEST(expr) [WITH ORDINALITY] AS a(c[, c2]).

    The operand is scanned with balanced parentheses (string-literal aware),
    so arbitrarily nested expressions work — a single regex can only handle
    bounded nesting."""
    out: list[str] = []
    i = 0
    while True:
        m = _UNNEST_HEAD_RE.search(sql, i)
        if not m:
            out.append(sql[i:])
            return "".join(out)
        j = _scan(sql).match(m.end()) + 1
        if not j:  # unclosed
            out.append(sql[i:])
            return "".join(out)
        expr = sql[m.end() : j - 1]
        args = _scan(expr).items()
        tm = _UNNEST_TAIL_RE.match(sql, j)
        if tm:
            ordinality = tm.group(1)
            alias = tm.group(2)
            cols = [c for c in tm.groups()[2:] if c]
            end = tm.end()
        else:
            # alias-less or bare-alias UNNEST (grammar allows both):
            # consume WITH ORDINALITY / `[AS] u` if present, synthesize
            # column names (array-of-ROW operands expand per field, so
            # a bare alias still exposes `u.<field>` references)
            om = re.match(r"\s+WITH\s+ORDINALITY\b", sql[j:], re.IGNORECASE)
            n = _uniq()
            ordinality = bool(om)
            end = j + (om.end() if om else 0)
            bm = _UNNEST_BARE_ALIAS_RE.match(sql, end)
            if bm and bm.group(1).lower() not in _UNNEST_ALIAS_STOPWORDS:
                alias = bm.group(1)
                end = bm.end()
            else:
                alias = f"__ua{n}"
            cols = _unnest_default_cols(args, n, bool(om), ctx=sql)
        out.append(sql[i : m.start()])
        out.append(_unnest_lateral(args, ordinality, alias, cols, ctx=sql))
        i = end

_UNNEST_BARE_ALIAS_RE = re.compile(
    r"\s+(?:AS\s+)?([A-Za-z_]\w*)\b(?!\s*\()", re.IGNORECASE
)
_UNNEST_ALIAS_STOPWORDS = frozenset(
    "where group order having limit offset fetch union intersect except "
    "join cross left right full inner outer on using lateral tablesample "
    "with as select natural window values and or not in is between like".split()
)

_VALUES_OPEN_RE = re.compile(r"\(\s*VALUES\b", re.IGNORECASE)


def _rewrite_values_with_lambdas(sql: str) -> str:
    """Spark can't evaluate higher-order lambdas inside an inline table
    (INVALID_INLINE_TABLE); rewrite ``(VALUES e1, e2) [AS] t(c)`` whose
    items carry a top-level lambda arrow into a UNION ALL of SELECTs."""
    i = 0
    while True:
        m = _VALUES_OPEN_RE.search(sql, i)
        if m is None:
            return sql
        close = _scan(sql).close(m.start() + 1)
        body = sql[m.start() + 1 : close - 1]
        items = _scan(body.strip()[len("VALUES") :]).items()
        if not any("->" in it for it in items):
            i = m.end()
            continue
        tm = re.match(
            r"\s*(?:AS\s+)?(\w+)\s*\(\s*([\w\s,]+)\)", sql[close:], re.IGNORECASE
        )
        if not tm:
            i = m.end()
            continue
        alias = tm.group(1)
        cols = [c.strip() for c in tm.group(2).split(",")]
        selects = []
        for it in items:
            it = it.strip()
            vals = (
                _scan(it[1:-1]).items()
                if it.startswith("(") and _scan(it).close(1) == len(it)
                and len(cols) > 1
                else [it]
            )
            if len(vals) != len(cols):
                break
            selects.append(
                "SELECT "
                + ", ".join(f"{v} AS {c}" for v, c in zip(vals, cols))
            )
        else:
            sql = (
                sql[: m.start()]
                + "(" + " UNION ALL ".join(selects) + f") {alias}"
                + sql[close + tm.end() :]
            )
            i = m.start() + 1
            continue
        i = m.end()


_FROM_UNNEST_RE = re.compile(r"\bFROM\s+UNNEST\s*\(", re.IGNORECASE)


def _rewrite_from_unnest(sql: str) -> str:
    """Bare table-function form ``FROM UNNEST(e) [WITH ORDINALITY]
    [AS a(c[, c2])]`` → an inline subquery projecting ONLY the unnest
    columns (a LATERAL VIEW over a one-row driver; can't reuse the CROSS
    JOIN path directly or ``SELECT *`` would pick up the driver column).
    Runs before _rewrite_unnest_all; ``CROSS JOIN UNNEST`` has JOIN
    before UNNEST so the patterns never overlap."""
    out: list[str] = []
    i = 0
    while True:
        m = _FROM_UNNEST_RE.search(sql, i)
        if not m:
            out.append(sql[i:])
            return "".join(out)
        j = _scan(sql).close(m.end())
        expr = sql[m.end() : j - 1]
        args = _scan(expr).items()
        tm = _UNNEST_TAIL_RE.match(sql, j)
        if tm:
            ordinality = tm.group(1)
            alias = tm.group(2)
            cols = [c for c in tm.groups()[2:] if c]
            end = tm.end()
        else:
            om = re.match(r"\s+WITH\s+ORDINALITY\b", sql[j:], re.IGNORECASE)
            n = _uniq()
            ordinality = bool(om)
            end = j + (om.end() if om else 0)
            bm = _UNNEST_BARE_ALIAS_RE.match(sql, end)
            if bm and bm.group(1).lower() not in _UNNEST_ALIAS_STOPWORDS:
                alias = bm.group(1)
                end = bm.end()
            else:
                alias = f"__ua{n}"
            cols = _unnest_default_cols(args, n, bool(om), ctx=sql)
        body = (
            f"SELECT {', '.join(cols)} FROM (SELECT 1) "
            + _unnest_lateral(args, ordinality, "__lv", cols, ctx=sql)
        )
        out.append(sql[i : m.start()])
        out.append(f"FROM ({body}) {alias}")
        i = end


_TABLESAMPLE_RE = re.compile(
    r"TABLESAMPLE\s+(?:BERNOULLI|SYSTEM)\s*\(\s*([0-9.]+)\s*\)", re.IGNORECASE
)

# Presto TRY(CAST(x AS T)) → Spark TRY_CAST(x AS T). (General TRY(expr)
# needs expression-level analysis — documented gap; the CAST form is the
# overwhelmingly common one.)
_TRY_CAST_RE = re.compile(r"\bTRY\s*\(\s*CAST\s*\(", re.IGNORECASE)


def _rewrite_try_cast(sql: str) -> str:
    """TRY(CAST(x AS T)) → TRY_CAST(x AS T), dropping the outer paren."""
    while True:
        m = _TRY_CAST_RE.search(sql)
        if not m:
            return sql
        # find the close paren matching CAST( and then the TRY's close
        i = _scan(sql).close(m.end())
        # i is just past CAST's ')'; skip whitespace to TRY's ')'
        j = i
        while j < len(sql) and sql[j].isspace():
            j += 1
        if j < len(sql) and sql[j] == ")":
            inner = sql[m.end() : i]  # "x AS T)"
            sql = sql[: m.start()] + "TRY_CAST(" + inner + sql[j + 1 :]
        else:  # malformed; leave untouched to avoid infinite loop
            return sql


def _unnest_replacement(expr, ordinality, alias, col, col2) -> str:
    if ordinality and col2:
        # WITH ORDINALITY: Presto appends a 1-based ordinal column LAST.
        # inline(transform(..., (x, i) -> ...)) emits both columns under ONE
        # alias, which posexplode (pos first, second alias) cannot — and
        # unlike arrays_zip(expr, sequence(1, size(expr))) it yields ZERO
        # rows for an empty array (sequence(1,0) = [1,0] would pad two
        # phantom null rows).
        return (
            f"LATERAL VIEW inline(transform({expr}, "
            f"(__x, __i) -> struct(__x, __i + 1))) {alias} AS {col}, {col2}"
        )
    if col2:
        # UNNEST(map) yields (key, value) pairs.
        return f"LATERAL VIEW explode({expr}) {alias} AS {col}, {col2}"
    return f"LATERAL VIEW explode({expr}) {alias} AS {col}"


# one pass: each call is renamed once, so a target that is also a source
# (to_timestamp, to_date) is never renamed again
_RENAME_RE = re.compile(
    r"\b(" + "|".join(n for n, t in FUNCTION_RENAMES.items() if n != t)
    + r")\s*\(",
    re.IGNORECASE,
)


def _rename_functions(chunk: str) -> str:
    return _RENAME_RE.sub(
        lambda m: FUNCTION_RENAMES[m.group(1).lower()] + "(", chunk
    )


# Presto allows unparameterized VARCHAR in casts; Spark requires a length
# (or STRING). Also covers TRY_CAST and DDL-ish usage `AS VARCHAR`.
_BARE_VARCHAR_RE = re.compile(r"\bAS\s+VARCHAR\s*(?=[,)\s]|$)", re.IGNORECASE)

_DATE_FN_RE = re.compile(r"\b(date_format|date_parse)\s*\(", re.IGNORECASE)


def _rewrite_datetime_patterns(sql: str) -> str:
    """Translate MySQL %-patterns in date_format/date_parse literal args.

    Presto's date_format/date_parse use MySQL patterns
    (DateTimeFunctions.java); Spark's use java.time. Only the common
    literal-last-argument form is rewritten (paren-aware scan); date_parse
    maps to to_timestamp."""
    from .functions.datetime_compat import translate_mysql_pattern

    out = []
    i = 0
    while True:
        m = _DATE_FN_RE.search(sql, i)
        if not m:
            out.append(sql[i:])
            return "".join(out)
        fn = m.group(1).lower()
        j = _scan(sql).close(m.end())
        args = sql[m.end() : j - 1]
        pat = re.search(r"'([^']*)'\s*$", args)
        if fn == "date_parse" and pat:
            # literal-corner fold: patterns java.time can't express
            # (conflicting %Y+%y last-wins, ISO-week %x/%v, variable
            # %f fractions) parse in Python at rewrite time when the
            # input is a literal too (DateTimeFunctions.java Joda
            # builder semantics — parse_mysql_datetime docstring)
            p = pat.group(1)
            corner = (
                re.search(r"%[vxf]", p)
                or ("%Y" in p and "%y" in p)
            )
            arg0 = args[: pat.start()].rstrip().rstrip(",").strip()
            am = re.fullmatch(r"'([^']*)'", arg0)
            if corner and am:
                from .functions.datetime_compat import (
                    parse_mysql_datetime,
                )

                dt = parse_mysql_datetime(am.group(1), p)
                if dt is not None:
                    lit = dt.strftime("%Y-%m-%d %H:%M:%S") + \
                        ".%03d" % (dt.microsecond // 1000)
                    out.append(sql[i : m.start()])
                    out.append(f"TIMESTAMP '{lit}'")
                    i = j
                    continue
        if (
            fn == "date_format"
            and pat
            and re.search(r"%[vx]", pat.group(1))
        ):
            # ISO week (%v) / week-year (%x): Spark 3+ bans the
            # java.time week-based pattern letters, so splice
            # weekofyear()/extract(YEAROFWEEK) expressions between the
            # translated pattern segments (DateTimeFunctions.java:1250,
            # 1253 — weekOfWeekyear/weekyear)
            ts_arg = args[: pat.start()].rstrip().rstrip(",").strip()
            pieces, ok = [], True
            for seg in re.split(r"(%[vx])", pat.group(1)):
                if seg == "%v":
                    pieces.append(
                        f"lpad(CAST(weekofyear({ts_arg}) AS STRING),"
                        f" 2, '0')"
                    )
                elif seg == "%x":
                    pieces.append(
                        f"lpad(CAST(extract(YEAROFWEEK FROM {ts_arg})"
                        f" AS STRING), 4, '0')"
                    )
                elif seg:
                    try:
                        tseg = translate_mysql_pattern(seg)
                    except ValueError:
                        ok = False
                        break
                    esc = tseg.replace("'", "''")
                    pieces.append(f"date_format({ts_arg}, '{esc}')")
            if ok and pieces:
                call = (
                    pieces[0]
                    if len(pieces) == 1
                    else f"concat({', '.join(pieces)})"
                )
                out.append(sql[i : m.start()])
                out.append(call)
                i = j
                continue
        if pat and ("%" in pat.group(1) or fn == "date_format"):
            try:
                translated = translate_mysql_pattern(pat.group(1))
            except ValueError:
                out.append(sql[i : j])
                i = j
                continue
            # __spark_to_timestamp: sentinel renamed to the Spark builtin in
            # the LAST rename pass — a bare "to_timestamp" here would be
            # captured by the earlier Teradata to_timestamp rename and its
            # java-pattern argument double-translated.
            new_fn = "__spark_to_timestamp" if fn == "date_parse" else "date_format"
            new_args = args[: pat.start()] + "'" + translated.replace("'", "''") + "'"
            call = f"{new_fn}({new_args})"
            if (
                fn == "date_parse"
                and "%y" in pat.group(1)
                and "%Y" not in pat.group(1)
            ):
                # MySQL two-digit-year pivot (Presto/Joda): 70-99 →
                # 19xx, 00-69 → 20xx. java.time 'yy' reduces against
                # base 2000 (everything lands 2000-2099) — shift the
                # 2070-2099 window back a century.
                call = (
                    f"(CASE WHEN year({call}) >= 2070 "
                    f"THEN {call} - INTERVAL 100 YEAR "
                    f"ELSE {call} END)"
                )
            out.append(sql[i : m.start()])
            out.append(call)
            i = j
        else:
            out.append(sql[i : j])
            i = j


def _joda_to_java_pattern(pat: str) -> str:
    """Joda-Time pattern → java.time (DateTimeFunctions.java
    format_datetime/parse_datetime use Joda). The letters mostly
    coincide; the trap is the year family: Joda 'Y' is year-of-era
    while java.time 'Y' is WEEK-BASED year — map Y→y outside quoted
    literals. 'ZZ' (Joda ±hh:mm) → 'XXX'."""
    out, i, in_q = [], 0, False
    while i < len(pat):
        c = pat[i]
        if c == "'":
            in_q = not in_q
            out.append(c)
            i += 1
            continue
        if not in_q and c == "Y":
            j = i
            while j < len(pat) and pat[j] == "Y":
                j += 1
            out.append("y" * (j - i))
            i = j
            continue
        if not in_q and c == "Z":
            j = i
            while j < len(pat) and pat[j] == "Z":
                j += 1
            n = j - i
            out.append("Z" if n == 1 else ("XXX" if n == 2 else "VV"))
            i = j
            continue
        out.append(c)
        i += 1
    return "".join(out)


_JODA_FN_RE = re.compile(
    r"\b(format_datetime|parse_datetime)\s*\(", re.IGNORECASE
)


def _rewrite_joda_datetime_fns(sql: str) -> str:
    """``format_datetime(ts, 'joda')`` → ``date_format(ts, <java>)``;
    ``parse_datetime(s, 'joda')`` → ``__spark_to_timestamp`` (the
    sentinel keeps the Teradata to_timestamp rename from
    double-translating the pattern). Literal-pattern forms only."""
    out, i = [], 0
    while True:
        m = _JODA_FN_RE.search(sql, i)
        if not m:
            out.append(sql[i:])
            return "".join(out)
        fn = m.group(1).lower()
        j = _scan(sql).close(m.end())
        args = _scan(sql[m.end() : j - 1]).items()
        pm = (
            re.fullmatch(r"\s*'((?:[^']|'')*)'\s*", args[-1])
            if len(args) == 2
            else None
        )
        if pm is None:
            out.append(sql[i:j])
            i = j
            continue
        translated = _joda_to_java_pattern(pm.group(1))
        new_fn = (
            "date_format" if fn == "format_datetime"
            else "__spark_to_timestamp"
        )
        out.append(sql[i : m.start()])
        out.append(f"{new_fn}({args[0]}, '{translated}')")
        i = j


def _literal_mask(sql: str) -> list[bool]:
    """True where sql[i] is inside a '…' string literal (quotes included)."""
    return _scan(sql).mask


def _expr_start(sql: str, mask: list[bool], end: int) -> int | None:
    """Start of the primary expression ending just before ``end``: an
    identifier chain, a ``fn(…)``/``(…)``/``…[…]`` tail, or a (typed)
    string literal like ``TIMESTAMP '…'``."""
    i = end - 1
    while i >= 0 and sql[i].isspace():
        i -= 1
    if i < 0:
        return None
    if mask[i]:  # string literal — include opening quote + type keyword
        i -= 1
        while i >= 0 and mask[i]:
            i -= 1
        start = i + 1
        j = i
        while j >= 0 and sql[j].isspace():
            j -= 1
        k = j
        while k >= 0 and (sql[k].isalnum() or sql[k] == "_"):
            k -= 1
        if sql[k + 1 : j + 1].upper() in ("TIMESTAMP", "DATE", "TIME"):
            return k + 1
        return start
    # walk a postfix chain backward: identifiers, ``fn(…)``/``(…)``/
    # ``…[…]`` groups and dotted field accesses compose —
    # ``CAST(r AS …).bb`` or ``f(x).a[1].c`` are single primaries.
    start: int | None = None
    while i >= 0:
        if sql[i] in ")]" and not mask[i]:
            i = _scan(sql).open_of(i, "(" if sql[i] == ")" else "[")
            if i < 0:
                return start
            j = i - 1
            while j >= 0 and (sql[j].isalnum() or sql[j] in "_."):
                j -= 1
            start = j + 1
            i = j
            if i >= 0 and sql[i] in ")]" and not mask[i] and start <= i + 1 \
                    and sql[start] == ".":
                continue  # chained field access over a preceding group
            return start
        if sql[i].isalnum() or sql[i] == "_":
            j = i
            while j >= 0 and (sql[j].isalnum() or sql[j] in "_."):
                j -= 1
            start = j + 1
            i = j
            if i >= 0 and sql[i] in ")]" and not mask[i] and sql[start] == ".":
                continue  # ``…).field`` — include the preceding group
            return start
        return start
    return start


_ARRAY_LIT_RE = re.compile(r"\bARRAY\s*\[", re.IGNORECASE)


def _rewrite_array_literals(sql: str) -> str:
    """Presto ``ARRAY[1, 2]`` (SqlBase.g4 arrayConstructor) → ``array(1, 2)``;
    ``MAP(ARRAY[…], ARRAY[…])`` (MapConstructor) → ``map_from_arrays(…)``."""
    sc, edits = _scan(sql), []
    for m in _outside(_ARRAY_LIT_RE, sql):
        k = sc.match(m.end(), "[")
        k = k if k >= 0 else len(sql) - 1  # unclosed: the last char closes
        edits += [(m.start(), m.end(), "array("), (k, k + 1, ")")]
    sql = _splice(sql, edits)
    return re.sub(r"\bMAP\s*\(\s*array\(", "map_from_arrays(array(", sql)


_SCALAR_LIT_ITEM_RE = re.compile(
    r"^(?:(?:DATE|TIME|TIMESTAMP|BIGINT|INTEGER|INT|SMALLINT|TINYINT"
    r"|DOUBLE|REAL|DECIMAL|CHAR|VARCHAR|BOOLEAN)\s*)?'(?:[^']|'')*'$"
    r"|^[+-]?\d+(?:\.\d*)?(?:E[+-]?\d+)?$"
    r"|^(?:TRUE|FALSE)$",
    re.IGNORECASE | re.DOTALL,
)


def _array_call_depth(item: str) -> int | None:
    """Textual nesting depth of an ``array(...)`` constructor literal
    (array(1) → 1, array(array(1)) → 2); None when the item is neither
    an array constructor nor a scalar literal (unknown type)."""
    item = item.strip()
    m = re.match(r"(?is)^array\s*\((.*)\)$", item)
    if m:
        body = m.group(1).strip()
        if not body:
            return 1
        first = _scan(body).items()[0].strip()
        d = _array_call_depth(first)
        return 1 + (d if d is not None else 0)
    if _SCALAR_LIT_ITEM_RE.match(item):
        return 0
    return None


def _rewrite_element_array_concat(sql: str) -> str:
    """Presto ``e || array`` / ``array || e`` appends/prepends the
    element (TestArrayOperators testElementArrayConcat;
    ArrayConcatUtils). Spark's ``||`` is same-type concat only, so a
    mixed chain errors with DATA_DIFF_TYPES. For chains whose items are
    all provably-typed literals (array constructors or scalar literals)
    with mixed depths, wrap each shallower item in ``array(...)`` —
    ``1 || array(2)`` ≡ ``array(1) || array(2)``. Items of unknown type
    (columns) leave the chain untouched."""
    mask = _literal_mask(sql)
    out, i, n = [], 0, len(sql)
    # collect top-level || chain spans by scanning every || occurrence
    spans = []  # (start, end, items)
    k = 0
    while k < n - 1:
        if sql[k] == "|" and sql[k + 1] == "|" and not mask[k]:
            # walk left to the operand start
            items = []
            lo = _concat_operand_left(sql, mask, k)
            hi = k
            if lo is None:
                k += 2
                continue
            items.append((lo, hi))
            pos = k
            while True:
                rr = _concat_operand_right(sql, mask, pos + 2)
                if rr is None:
                    items = None
                    break
                items.append((pos + 2, rr))
                # another || after?
                p = rr
                while p < n and sql[p].isspace():
                    p += 1
                if p < n - 1 and sql[p] == "|" and sql[p + 1] == "|":
                    pos = p
                else:
                    break
            if items and len(items) >= 2:
                spans.append((items[0][0], items[-1][1], items))
                k = items[-1][1]
                continue
        k += 1
    if not spans:
        return sql
    prev = 0
    for start, end, items in spans:
        if start < prev:
            # a nested chain: «('X y' || s) || z» — the outer span's
            # first operand (the paren group) overlaps the inner span
            # already emitted; leave the outer chain untouched (the
            # emitter requires disjoint spans — r12 fuzzer find: the
            # overlap used to re-append the inner region, corrupting
            # the statement)
            continue
        texts = [sql[a:b].strip() for a, b in items]
        depths = [_array_call_depth(t) for t in texts]
        out.append(sql[prev:start])
        if any(d is None for d in depths) or not any(d and d > 0 for d in depths):
            out.append(sql[start:end])
        else:
            dmax = max(d for d in depths if d is not None)
            if all(d in (dmax, dmax - 1) for d in depths) and any(
                d == dmax - 1 for d in depths
            ):
                out.append(
                    " || ".join(
                        t if d == dmax else f"array({t})"
                        for t, d in zip(texts, depths)
                    )
                )
            else:
                out.append(sql[start:end])
        prev = end
    out.append(sql[prev:])
    return "".join(out)


def _concat_operand_left(sql: str, mask, k: int):
    """Start index of the || operand ending just before position k, or
    None when the shape is not a recognizable literal/call operand."""
    j = k - 1
    while j >= 0 and sql[j].isspace():
        j -= 1
    if j < 0:
        return None
    c = sql[j]
    if c == ")":
        j = _scan(sql).open_of(j)
        if j < 0:
            return None
        # include a directly-attached callee name
        p = j - 1
        while p >= 0 and (sql[p].isalnum() or sql[p] == "_"):
            p -= 1
        return p + 1 if p + 1 < j else j
    if c == "'":
        j -= 1
        while j >= 0:
            if sql[j] == "'":
                if j - 1 >= 0 and sql[j - 1] == "'":
                    j -= 2
                    continue
                break
            j -= 1
        if j < 0:
            return None
        # typed-literal keyword directly before?
        p = j - 1
        while p >= 0 and sql[p].isspace():
            p -= 1
        q = p
        while q >= 0 and (sql[q].isalnum() or sql[q] == "_"):
            q -= 1
        word = sql[q + 1 : p + 1].upper()
        if word in (
            "DATE", "TIME", "TIMESTAMP", "BIGINT", "INTEGER", "INT",
            "SMALLINT", "TINYINT", "DOUBLE", "REAL", "DECIMAL", "CHAR",
            "VARCHAR", "BOOLEAN",
        ):
            return q + 1
        return j
    if c.isalnum() or c in "._":
        while j >= 0 and (sql[j].isalnum() or sql[j] in "._"):
            j -= 1
        return j + 1
    return None


def _concat_operand_right(sql: str, mask, k: int):
    """End index (exclusive) of the || operand starting at/after k."""
    n = len(sql)
    j = k
    while j < n and sql[j].isspace():
        j += 1
    if j >= n:
        return None
    m = re.match(
        r"(?is)(?:DATE|TIME|TIMESTAMP|BIGINT|INTEGER|INT|SMALLINT|TINYINT"
        r"|DOUBLE|REAL|DECIMAL|CHAR|VARCHAR|BOOLEAN)\s*'",
        sql[j:],
    )
    if m or sql[j] == "'":
        p = j + (m.end() if m else 1)
        while p < n:
            if sql[p] == "'":
                if p + 1 < n and sql[p + 1] == "'":
                    p += 2
                    continue
                return p + 1
            p += 1
        return None
    cm = re.match(r"[A-Za-z_][A-Za-z0-9_.]*\s*\(", sql[j:])
    if cm:
        return _scan(sql).close(j + cm.end())
    nm = re.match(r"[+-]?\d+(?:\.\d*)?(?:[Ee][+-]?\d+)?", sql[j:])
    if nm:
        return j + nm.end()
    wm = re.match(r"(?i)[A-Za-z_][A-Za-z0-9_.]*", sql[j:])
    if wm:
        return j + wm.end()
    return None


def _rewrite_subscripts(sql: str) -> str:
    """Presto subscript ``x[e]`` is 1-based on arrays and key-lookup on maps
    (SqlBase.g4 subscript; InterpretedFunctionInvoker) — Spark's ``[]`` is
    0-based on arrays, a silent off-by-one. Rewrite to ``element_at(x, e)``
    which has Presto's semantics for both arrays and maps (the later rename
    pass turns it into try_element_at: NULL instead of an error on
    out-of-bounds — documented deviation). Chained subscripts resolve over
    successive passes."""
    guard = 0
    while guard < 32:
        guard += 1
        mask = _literal_mask(sql)
        done = True
        i = 0
        while i < len(sql):
            if sql[i] == "[" and not mask[i]:
                start = _expr_start(sql, mask, i)
                if start is not None and not sql[: i].rstrip().upper().endswith(
                    "ARRAY"
                ):
                    j = _scan(sql).close(i + 1, "[")
                    base = sql[start:i].rstrip()
                    inner = sql[i + 1 : j - 1]
                    sql = (
                        sql[:start]
                        + f"element_at({base}, {inner})"
                        + sql[j:]
                    )
                    done = False
                    break
            i += 1
        if done:
            return sql
    return sql


_AT_TZ_RE = re.compile(r"\bAT\s+TIME\s+ZONE\s+", re.IGNORECASE)


def _rewrite_at_time_zone(sql: str) -> str:
    """``expr AT TIME ZONE 'zone'`` (SqlBase.g4 AT_TIME_ZONE; desugared by
    DesugarAtTimeZone.java) → at_timezone(expr, 'zone') compat function."""
    while True:
        m = _find_outside(_AT_TZ_RE, sql)
        if m is None:
            return sql
        start = _expr_start(sql, _literal_mask(sql), m.start())
        if start is None:
            return sql
        j = m.end()
        while j < len(sql) and sql[j].isspace():
            j += 1
        im = re.match(
            r"(?is)INTERVAL\s*'(?:[^']|'')*'\s+" + _IVL_UNIT_RANGE,
            sql[j:],
        )
        if im:  # interval-typed zone offset (at_timezone overloads)
            k = j + im.end()
        elif j < len(sql) and sql[j] == "'":  # zone string literal
            k = j + 1
            while k < len(sql):
                if sql[k] == "'":
                    k += 1
                    if k < len(sql) and sql[k] == "'":
                        k += 1
                        continue
                    break
                k += 1
        else:  # identifier/expression zone
            k = j
            while k < len(sql) and (sql[k].isalnum() or sql[k] in "_."):
                k += 1
        expr = sql[start : m.start()].rstrip()
        zone = sql[j:k]
        sql = sql[:start] + f"at_timezone({expr}, {zone})" + sql[k:]


def _map_fn_args(sql: str, fname: str, xform) -> str:
    """Rewrite every top-level call of ``fname``: xform(args) returns the new
    argument list (list of strings) or None to leave the call unchanged."""
    pat = re.compile(rf"\b{fname}\s*\(", re.IGNORECASE)
    out: list[str] = []
    i = 0
    while True:
        m = _find_outside(pat, sql, i)
        if m is None:
            out.append(sql[i:])
            return "".join(out)
        j = _scan(sql).close(m.end())
        new_args = xform(_scan(sql[m.end() : j - 1]).items())
        out.append(sql[i : m.start()])
        if new_args is None:
            out.append(sql[m.start() : j])
        else:
            out.append(f"{fname}({', '.join(new_args)})")
        i = j


def _replace_fn_calls(sql: str, fname: str, builder) -> str:
    """Replace every ``fname(args)`` call with builder(args) — full
    expression replacement (vs _map_fn_args' argument rewrite). The
    replacement text is rescanned, so NESTED calls (``apply(.., x ->
    apply(..))``, ``ROW(CAST(ROW(..)..))``) are rewritten too; builders
    must therefore never emit a same-name call (all current ones rename).
    When the builder declines (None), scanning continues INSIDE the
    call's arguments."""
    pat = re.compile(rf"\b{fname}\s*\(", re.IGNORECASE)
    pos = 0
    while True:
        m = _find_outside(pat, sql, pos)
        if m is None:
            return sql
        j = _scan(sql).close(m.end())
        new = builder(_scan(sql[m.end() : j - 1]).items())
        if new is None:
            pos = m.end()
            continue
        sql = sql[: m.start()] + new + sql[j:]
        pos = m.start()


def _rewrite_sign_typed(sql: str) -> str:
    """Presto ``sign()`` preserves its argument type — the
    MathFunctions.java overloads return tinyint/smallint/integer/bigint/
    real for those argument types and DECIMAL(1,0) for decimals
    (DecimalOperators signDecimal); Spark's ``signum`` is always DOUBLE.
    Syntactically-typed arguments (typed literals, CAST targets, bare
    int/decimal literals) are wrapped in a cast back to the Presto
    return type.  DOUBLE args stay native (already faithful); an
    untyped column-ref argument also stays native-double — documented
    gap (catalog-typed columns in the fixtures are int/double only,
    and the reference pins only literal-typed sign calls)."""

    def build(args):
        if len(args) != 1:
            return None
        a = args[0].strip()
        target = None
        m = re.match(
            r"(?i)^(TINYINT|SMALLINT|INTEGER|INT|BIGINT|REAL)\s*'", a
        )
        if m:
            target = m.group(1).upper()
        elif re.match(r"(?i)^DECIMAL\s*'", a):
            target = "DECIMAL(1,0)"
        else:
            cm = re.match(r"(?i)^(?:TRY_)?CAST\s*\(", a)
            if cm and _scan(a).close(cm.end()) == len(a):
                tm = re.search(
                    r"(?i)\bAS\s+(TINYINT|SMALLINT|INTEGER|INT|BIGINT"
                    r"|REAL|FLOAT|DECIMAL\s*\([^)]*\)|DECIMAL)\s*\)$",
                    a,
                )
                if tm:
                    t = tm.group(1).upper()
                    target = "DECIMAL(1,0)" if t.startswith("DECIMAL") else t
            elif re.fullmatch(r"-?\d+", a):
                target = "INT" if -(2**31) <= int(a) < 2**31 else "BIGINT"
            elif re.fullmatch(r"-?\d+\.\d*", a):
                target = "DECIMAL(1,0)"
        if target is None:
            return None
        if target == "INTEGER":
            target = "INT"
        if target == "REAL":
            target = "FLOAT"
        return f"CAST(SIGNUM({a}) AS {target})"

    return _replace_fn_calls(sql, "sign", build)


def _rewrite_kurtosis(sql: str) -> str:
    """Presto ``kurtosis`` is the *unbiased sample* excess kurtosis
    (reference AggregationUtils.java updateCentralMomentsState consumers:
    G2 = (n+1)(n-1)/((n-2)(n-3)) * m4/m2^2 - 3(n-1)^2/((n-2)(n-3)));
    Spark's built-in is the population g2 = m4/m2^2 - 3. Expand the call
    into single-pass raw-moment aggregates (central moments via power
    sums; Catalyst dedups the shared sub-aggregates). Numerical caveat:
    power sums to x^4 lose precision for |x| >> 1e5 — same class of
    one-pass tradeoff Presto accepts for covar/regr."""

    def build(args):
        if len(args) != 1:
            return None
        e = f"(CAST(({args[0]}) AS DOUBLE))"
        n = f"CAST(count({e}) AS DOUBLE)"
        m1 = f"avg({e})"
        m2 = f"avg(power({e}, 2))"
        m3 = f"avg(power({e}, 3))"
        m4 = f"avg(power({e}, 4))"
        cm2 = f"({m2} - {m1} * {m1})"
        cm4 = (
            f"({m4} - 4 * {m1} * {m3} + 6 * {m1} * {m1} * {m2}"
            f" - 3 * power({m1}, 4))"
        )
        g2 = (
            f"((({n} + 1) * ({n} - 1) / (({n} - 2) * ({n} - 3)))"
            f" * {cm4} / ({cm2} * {cm2})"
            f" - 3 * ({n} - 1) * ({n} - 1) / (({n} - 2) * ({n} - 3)))"
        )
        # reference returns NULL below 4 samples; IEEE double division
        # would otherwise yield NaN/Infinity from the (n-2)(n-3) factor
        return f"(CASE WHEN {n} < 4 THEN CAST(NULL AS DOUBLE) ELSE {g2} END)"

    return _replace_fn_calls(sql, "kurtosis", build)


# Upper bound on SQL-surface learn_classifier/learn_regressor training
# rows — the aggregate collects the training set into a single cell for
# the trainer UDF (the same single-node fit shape as the reference's
# libsvm), so bound that cell; MLlib (presto_ads_spark.llm.ml) is the
# scale path for big models.
ML_SQL_MODEL_CAP = 10_000


def _rewrite_ml_functions(sql: str) -> str:
    """SQL-surface ML functions (presto-ml MLFunctions.java /
    LearnClassifierAggregation.java): ``features(a, b, ..)`` builds the
    feature vector, ``learn_classifier(label, features)`` is an aggregate
    producing a model, ``classify(features, model)`` applies it (same for
    learn_regressor/regress).

    The reference trains a libsvm model with a LINEAR kernel
    (LibSvmUtils.java:34; C_SVC for the classifier, EPSILON_SVR for the
    regressor). Here the model value is a struct holding the sorted
    class array plus REAL trained linear weights: the aggregate collects
    the (capped) training set into one cell, and a deterministic numpy
    trainer UDF (functions/ml_train.py — one-vs-rest linear SVM /
    least-squares line fit) runs ONCE on that cell. Scoring in
    classify/regress is pure JVM HOF arithmetic (zip_with dot product +
    argmax over classes), so inference stays codegen'd and UDF-free no
    matter how many rows are scored. Labels keep their original type
    (bigint and varchar classifiers both work): the trainer sees only
    1-based indexes into the JVM-side sorted distinct class array.

    Training past ML_SQL_MODEL_CAP rows raises at runtime with a pointer
    to the MLlib wrappers (presto_ads_spark.llm.ml), the scale path
    (documented in README Known gaps)."""

    def features(args):
        cast = ", ".join(f"CAST(({a}) AS DOUBLE)" for a in args)
        return f"array({cast})"

    def learn_classifier(args):
        if len(args) != 2:
            return None
        raw = (
            f"array_agg(struct(({args[0]}) AS __ml_l,"
            f" ({args[1]}) AS __ml_f))"
        )
        # NULL label/features rows are skipped, matching the reference's
        # aggregation layer (Presto never feeds NULL args to the input
        # function); identical agg expressions share one buffer
        agg = (
            f"filter({raw}, __mn -> __mn.__ml_l IS NOT NULL"
            f" AND __mn.__ml_f IS NOT NULL)"
        )
        # raise_error's void type coerces with the class-array branch
        classes = (
            f"array_sort(array_distinct("
            f"transform({agg}, __my -> __my.__ml_l)))"
        )
        over_cap = f"size({agg}) > {ML_SQL_MODEL_CAP}"
        err = (
            f"raise_error('learn_classifier/learn_regressor:"
            f" training set exceeds {ML_SQL_MODEL_CAP} rows — the"
            f" SQL-surface model trains on a single collected cell;"
            f" use the MLlib wrappers (presto_ads_spark.llm.ml)"
            f" for large models')"
        )
        fit = (
            f"__ml_train_classifier("
            f"transform({agg}, __mx -> __mx.__ml_f),"
            f" transform({agg}, __mx -> CAST(array_position({classes},"
            f" __mx.__ml_l) AS INT)))"
        )
        # the fit itself is guarded too — an over-cap set must never
        # reach the Python trainer UDF (that single cell is the hazard
        # the cap bounds), not just fail on the classes field
        return (
            f"struct(CASE WHEN {over_cap} THEN {err} ELSE {classes} END"
            f" AS __ml_classes,"
            f" CASE WHEN {over_cap} THEN {err} ELSE {fit} END"
            f" AS __ml_fit)"
        )

    def learn_regressor(args):
        if len(args) != 2:
            return None
        raw = (
            f"array_agg(struct(CAST(({args[0]}) AS DOUBLE) AS __ml_l,"
            f" ({args[1]}) AS __ml_f))"
        )
        agg = (
            f"filter({raw}, __mn -> __mn.__ml_l IS NOT NULL"
            f" AND __mn.__ml_f IS NOT NULL)"
        )
        fit = (
            f"__ml_train_regressor("
            f"transform({agg}, __mx -> __mx.__ml_f),"
            f" transform({agg}, __mx -> __mx.__ml_l))"
        )
        return (
            f"struct(CASE WHEN size({agg}) > {ML_SQL_MODEL_CAP}"
            f" THEN raise_error('learn_classifier/learn_regressor:"
            f" training set exceeds {ML_SQL_MODEL_CAP} rows — the"
            f" SQL-surface model trains on a single collected cell;"
            f" use the MLlib wrappers (presto_ads_spark.llm.ml)"
            f" for large models') ELSE {fit} END AS __ml_fit)"
        )

    def classify(args):
        if len(args) != 2:
            return None
        feat, model = args
        score = (
            f"aggregate(zip_with("
            f"element_at(({model}).__ml_fit.ws, __mi), ({feat}),"
            f" (__ma, __mb) -> __ma * __mb), CAST(0 AS DOUBLE),"
            f" (__ms, __mv) -> __ms + __mv)"
            f" + element_at(({model}).__ml_fit.bs, __mi)"
        )
        # argmax: sort (-score, index) structs — ties break to the
        # lowest class index, deterministically
        return (
            f"element_at(({model}).__ml_classes,"
            f" element_at(array_sort(transform("
            f"sequence(1, size(({model}).__ml_classes)),"
            f" __mi -> struct(-({score}) AS __ml_negscore,"
            f" __mi AS __ml_i))), 1).__ml_i)"
        )

    def regress(args):
        if len(args) != 2:
            return None
        feat, model = args
        return (
            f"(aggregate(zip_with(({model}).__ml_fit.w, ({feat}),"
            f" (__ma, __mb) -> __ma * __mb), CAST(0 AS DOUBLE),"
            f" (__ms, __mv) -> __ms + __mv) + ({model}).__ml_fit.b)"
        )

    sql = _replace_fn_calls(sql, "learn_classifier", learn_classifier)
    sql = _replace_fn_calls(sql, "learn_regressor", learn_regressor)
    sql = _replace_fn_calls(sql, "classify", classify)
    sql = _replace_fn_calls(sql, "regress", regress)
    sql = _replace_fn_calls(sql, "features", features)
    return sql


def _rewrite_random_bound(sql: str) -> str:
    """Presto ``random()`` → [0,1) double; ``random(n)`` → uniform bigint
    in [0, n) (MathFunctions.java random overloads). Spark's ``rand()``
    covers the 0-arg form; the bounded form scales and floors it."""

    def build(args):
        if not args or (len(args) == 1 and not args[0].strip()):
            return "rand()"
        if len(args) == 1:
            return f"CAST(floor(rand() * ({args[0]})) AS BIGINT)"
        return None

    return _replace_fn_calls(sql, "random", build)


def _rewrite_fn_arity_compat(sql: str) -> str:
    """Arity-dependent Presto forms:

    - ``IF(cond, value)`` (ConditionalExpressions 2-arg IF) — Spark's
      ``if`` is strictly 3-arg; append the implicit NULL.
    - ``date_add('unit', n, ts)`` / ``date_diff('unit', a, b)``
      (DateTimeFunctions.java string-unit forms) — lower to the
      date_add_unit/date_diff_unit SQL UDFs (timestampadd/-diff CASE
      folds); the 2-arg Spark-native date_add stays untouched. A
      syntactically DATE-typed third argument (``DATE '…'`` literal or
      ``CAST(… AS DATE)``) routes to date_add_unit_date, which returns
      DATE like Presto; other date-typed expressions (column refs) still
      coerce to TIMESTAMP — documented gap."""
    sql = _map_fn_args(
        sql, "if", lambda args: args + ["NULL"] if len(args) == 2 else None
    )
    date_arg_re = re.compile(
        r"\s*(DATE\s*'|CAST\s*\(.*\bAS\s+DATE\s*\)\s*$)",
        re.IGNORECASE | re.DOTALL,
    )
    diff_units = {
        "second": "SECOND", "minute": "MINUTE", "hour": "HOUR",
        "day": "DAY", "week": "WEEK", "month": "MONTH",
        "quarter": "QUARTER", "year": "YEAR",
    }
    for fn in ("date_add", "date_diff"):
        def build(args, _fn=fn):
            if len(args) == 3 and re.match(r"\s*'", args[0]):
                if _fn == "date_add" and date_arg_re.match(args[2]):
                    return f"date_add_unit_date({', '.join(args)})"
                if _fn == "date_add" and re.match(
                    r"\s*TIME\s*'", args[2], re.IGNORECASE
                ):
                    # TIME-typed third arg: Presto wraps within the day
                    # (DateTimeFunctions.java modulo MILLISECONDS_IN_DAY)
                    return f"date_add_unit_time({', '.join(args)})"
                um = re.fullmatch(r"\s*'(\w+)'\s*", args[0])
                if _fn == "date_diff" and um:
                    # literal unit: inline the pure expression — a SQL
                    # temp function cannot capture lambda variables, and
                    # date_diff legitimately appears inside array_sort
                    # comparators (TestArrayOperators:894)
                    u = um.group(1).lower()
                    a, b = args[1].strip(), args[2].strip()
                    if u == "millisecond":
                        return (
                            f"(timestampdiff(MICROSECOND, {a}, {b})"
                            f" DIV 1000)"
                        )
                    if u in diff_units:
                        return (
                            f"timestampdiff({diff_units[u]}, {a}, {b})"
                        )
                return f"{_fn}_unit({', '.join(args)})"
            return None

        sql = _replace_fn_calls(sql, fn, build)
    return sql


_GBD_RE = re.compile(r"\bGROUP\s+BY\s+DISTINCT\b", re.IGNORECASE)
_GBD_STOP_RE = re.compile(
    r"\b(HAVING|ORDER\s+BY|LIMIT|OFFSET|FETCH|UNION|INTERSECT|EXCEPT|"
    r"WINDOW)\b",
    re.IGNORECASE,
)


def _expand_grouping_item(item: str) -> list[list[str]] | None:
    """Grouping-set list contributed by one GROUP BY item (SQL-standard
    composition): plain expr -> [[expr]]; GROUPING SETS lists its sets;
    ROLLUP -> entry-list prefixes; CUBE -> entry-list subsets. None = bail
    (malformed)."""
    m = re.match(r"(GROUPING\s+SETS|CUBE|ROLLUP)\s*\(", item, re.IGNORECASE)
    if m is None:
        return [[item.strip()]]
    close = _scan(item).close(m.end())
    if item[close:].strip():
        return None
    entries = _scan(item[m.end() : close - 1]).items()

    def cols(e: str) -> list[str]:
        e = e.strip()
        if e.startswith("(") and _scan(e).close(1) == len(e):
            return [c for c in _scan(e[1:-1]).items()]
        return [e]

    kind = " ".join(m.group(1).upper().split())
    ents = [cols(e) for e in entries]
    if kind == "GROUPING SETS":
        return ents
    if kind == "ROLLUP":
        return [
            [c for ent in ents[:i] for c in ent]
            for i in range(len(ents), -1, -1)
        ]
    out = []  # CUBE: all subsets of the entry list
    for mask in range(1 << len(ents)):
        out.append(
            [c for i, ent in enumerate(ents) if mask >> i & 1 for c in ent]
        )
    return out


def _rewrite_group_by_distinct(sql: str) -> str:
    """Presto ``GROUP BY DISTINCT …`` (SqlBase.g4 groupBy: setQuantifier?
    groupingElement+): expand the standard cross-product composition of the
    grouping elements, then DEDUPLICATE the resulting grouping sets —
    Spark has no DISTINCT quantifier there, but the deduped expansion is
    expressible as a plain GROUPING SETS list, which Spark lowers to one
    Expand (no extra scans at any scale).

    ``GROUP BY DISTINCT a, ROLLUP (b, c), CUBE (d)`` becomes the deduped
    cross product {a}×{(),(b),(b,c)}×{(),(d)} as GROUPING SETS."""
    masked = _scan(sql).flat()
    out = sql
    # masking blanks everything inside parens — scope is the top-level
    # statement; a subquery-level GROUP BY DISTINCT passes through
    # unchanged (Spark rejects it loudly, never silently mis-groups)
    for m in reversed(list(_GBD_RE.finditer(masked))):
        stop = _GBD_STOP_RE.search(masked, m.end())
        end = stop.start() if stop else len(sql)
        items = _scan(out[m.end() : end]).items()
        if not items:
            continue
        per_item = [_expand_grouping_item(it) for it in items]
        if any(p is None for p in per_item):
            continue
        sets: list[list[str]] = [[]]
        for p in per_item:
            sets = [s + extra for s in sets for extra in p]
        # ``a`` and ``t.a`` are the same grouping column when t is the
        # statement's sole relation alias (TestGroupingSets' GROUP BY
        # DISTINCT ROLLUP(a, t.a) sites) — strip the qualifier for the
        # dedup KEY only; emitted text keeps its original spelling
        alias = _sole_from_alias(sql)

        def norm(c: str) -> str:
            t = " ".join(c.split()).lower()
            if alias:
                t = re.sub(rf"\b{re.escape(alias.lower())}\s*\.\s*", "", t)
            return t
        seen: set[tuple[str, ...]] = set()
        deduped = []
        for s in sets:
            # a column repeated within one composed set is redundant
            cols, ckeys = [], set()
            for c in s:
                if norm(c) not in ckeys:
                    ckeys.add(norm(c))
                    cols.append(c)
            key = tuple(norm(c) for c in cols)
            if key not in seen:
                seen.add(key)
                deduped.append(cols)
        body = ", ".join("(" + ", ".join(s) + ")" for s in deduped)
        out = (
            out[: m.start()]
            + f"GROUP BY GROUPING SETS ({body}) "
            + out[end:]
        )
    return out


def _sole_from_alias(sql: str) -> str | None:
    """The statement's single FROM relation alias, or None when the FROM
    is absent, multi-relation (join/comma), or alias-less. Used to
    equate ``a`` with ``<alias>.a`` in grouping-set dedup keys."""
    masked = _scan(sql).flat()
    fm = re.search(r"\bFROM\b", masked, re.IGNORECASE)
    if fm is None:
        return None
    stop = re.search(
        r"\b(WHERE|GROUP\s+BY|HAVING|ORDER\s+BY|LIMIT|OFFSET|FETCH|UNION|"
        r"INTERSECT|EXCEPT|WINDOW)\b",
        masked[fm.end() :],
        re.IGNORECASE,
    )
    seg_m = masked[fm.end() : fm.end() + stop.start()] if stop else masked[fm.end() :]
    seg = sql[fm.end() : fm.end() + len(seg_m)]
    if "," in seg_m or re.search(r"\bJOIN\b", seg_m, re.IGNORECASE):
        return None
    am = re.search(
        r"(?:\)|\w)\s+(?:AS\s+)?([A-Za-z_]\w*)\s*(?:\([^()]*\))?\s*$", seg
    )
    return am.group(1) if am else None


def _rewrite_grouping_multi(sql: str) -> str:
    """Presto ``grouping(c1, .., cN)`` returns the N-bit mask (first
    argument = most significant bit — GroupingOperationRewriter); Spark's
    ``grouping()`` is strictly 1-arg. Lowered to the MSB-weighted sum of
    single-column grouping() bits rather than ``grouping_id(c1, .., cN)``:
    Spark's grouping_id demands its argument list match the grouping
    columns EXACTLY (GROUPING_ID_COLUMN_MISMATCH), while Presto accepts
    any subset in any order (AbstractTestQueries testGroupingInSubqueries
    passes grouping(custkey, orderkey) under GROUP BY orderkey, custkey).
    The bit sum is pure post-Expand arithmetic — no extra shuffle."""

    def build(args):
        if len(args) < 2:
            return None
        n = len(args)
        bits = " + ".join(
            f"grouping({a.strip()}) * {1 << (n - 1 - i)}"
            if i < n - 1
            else f"grouping({a.strip()})"
            for i, a in enumerate(args)
        )
        return f"CAST(({bits}) AS BIGINT)"

    return _replace_fn_calls(sql, "grouping", build)


# Presto generalized typed literals (TYPE 'text'); Spark only accepts the
# date/time family, so the rest lower to casts. JSON 'x' is the identity —
# the json compat layer models json values as strings.
_TYPED_LIT_RE = re.compile(
    # \s* not \s+: the reference writes TINYINT'123' without a space
    r"\b(SMALLINT|TINYINT|INTEGER|INT|BIGINT|REAL|DOUBLE\s+PRECISION|"
    r"DOUBLE|DECIMAL|BOOLEAN|VARCHAR|CHAR|JSON|VARBINARY)"
    r"\s*('(?:[^']|'')*')",
    re.IGNORECASE,
)


def _rewrite_typed_literals(sql: str) -> str:
    """Runs over the full text (the literal is part of the pattern, so
    chunked outside-literal application can't see it) — but the TYPE
    keyword itself must sit outside any string literal: with the \\s*
    spelling (TINYINT'123'), a bare type word inside one literal
    adjacent to the next literal would otherwise match.

    Manual scan, not ``.sub``: a match STARTING inside a literal (e.g.
    the ``int`` of ``WHEN 'int' THEN``, whose "literal" group is then
    the inter-literal text ``' THEN '``) must not consume past its
    start — with ``.sub`` it would swallow a real typed literal that
    begins inside the bogus span (``typeof(TINYINT '5')`` spliced after
    a WHEN chain was exactly that, r11 verdict "What's wrong #1")."""
    mask = _literal_mask(sql)

    def sub(m: re.Match) -> str:
        t = " ".join(m.group(1).upper().split())
        lit = m.group(2)
        if t == "JSON":
            # a JSON literal canonicalizes: compact spacing, object keys
            # sorted (JsonFunctions SORTED_MAPPER / "ordered by key is
            # required in Presto", JsonUtil.java:100) — JSON equality is
            # string equality over this form
            import json as _json
            from decimal import Decimal as _Dec

            try:
                # _rewrite_literal_backslashes (first pass) doubled the
                # literal's backslashes for Spark; undo for the parse
                v = _json.loads(
                    lit[1:-1].replace("''", "'").replace("\\\\", "\\"),
                    parse_float=_Dec,
                )
                # Spark literals process C escapes: double backslashes
                return (
                    "'"
                    + _render_canonical_json(v)
                    .replace("\\", "\\\\")
                    .replace("'", "''")
                    + "'"
                )
            except (ValueError, ArithmeticError):
                # malformed JSON literal: Presto rejects it when the
                # literal is processed (JsonUtil.createJsonParser) — a
                # runtime raise keeps TRY-composability handled above
                # and surfaces the Presto error otherwise
                msg = lit[1:-1][:60].replace("'", "''")
                return f"CAST(raise_error('Cannot cast to JSON: {msg}') AS STRING)"
        if t in ("VARCHAR", "CHAR"):
            return lit
        if t == "INTEGER":
            t = "INT"
        if t == "DOUBLE PRECISION":
            t = "DOUBLE"
        if t == "VARBINARY":  # bytes of the utf8 text (VarbinaryFunctions)
            t = "BINARY"
        if t == "DECIMAL":
            # Presto infers precision/scale from the literal text
            digits = re.sub(r"[^0-9]", "", lit)
            frac = lit.split(".", 1)[1].rstrip("'") if "." in lit else ""
            t = f"DECIMAL({max(len(digits), 1)}, {len(frac)})"
        return f"CAST({lit} AS {t})"

    out, pos = [], 0
    while True:
        m = _TYPED_LIT_RE.search(sql, pos)
        if not m:
            break
        if mask[m.start()]:
            # bogus match anchored inside a literal: step one char, so a
            # real typed literal inside the consumed span is still seen
            out.append(sql[pos:m.start() + 1])
            pos = m.start() + 1
            continue
        out.append(sql[pos:m.start()])
        out.append(sub(m))
        pos = m.end()
    out.append(sql[pos:])
    return "".join(out)


_COUNT_STAR_RE = re.compile(r"\bcount\s*\(\s*\)", re.IGNORECASE)
# Presto double-quoted identifiers (possibly with spaces) → backticks;
# in this dialect "…" is never a string literal.
_DQUOTE_IDENT_RE = re.compile(r'"([^"\\`]+)"')


_WADL_FNS = (
    "array_position",
    "array_remove",
    "contains",
    "array_contains",
    "array_intersect",
    "array_except",
    "array_union",
    "arrays_overlap",
)
_WADL_LITERAL_OK = re.compile(r"^[\d\s.,()+\-]*$")
_WADL_NUM = re.compile(r"(?<![\w.])-?\d+(?:\.\d+)?(?![\w.])")
_WADL_CMP_RE = re.compile(r"\barray\s*\(", re.IGNORECASE)


def _widen_array_decimal_literals(sql: str) -> str:
    """Presto coerces the operands of array functions and array
    comparisons to the common DECIMAL supertype (max integer digits +
    max scale over the operand types); Spark requires the element type
    of the array and the scalar/second-array element type to MATCH
    exactly for array_position/array_remove/array_contains/
    array_intersect/… and for array-to-array comparison operators
    (TestArrayOperators AO679-682, AO1124-1126, AO1245-1341, AO1467-1488,
    AO533). For all-literal operand sites, cast every numeric literal to
    the common decimal type. Runs right after the ARRAY[…] → array(…)
    constructor rewrite, before any array-function lowering."""

    def widen(args):
        if len(args) < 2:
            return None
        stripped = [re.sub(r"(?i)\barray\b", "", t) for t in args]
        # literal-only gate: any other alphabetic content (columns,
        # E-notation doubles, nan(), casts) skips the site
        if not all(_WADL_LITERAL_OK.fullmatch(s) for s in stripped):
            return None
        toks = [m.group(0) for s in args for m in _WADL_NUM.finditer(s)]
        if not toks:
            return None
        shapes = {
            (len(t.lstrip("-").split(".")[0]), len(t.split(".")[1]) if "." in t else 0)
            for t in toks
        }
        s = max(sc for _, sc in shapes)
        if s == 0 or len(shapes) == 1:
            return None  # ints only, or already one common type
        p = max(ip for ip, _ in shapes) + s
        if p > 38:
            return None
        return [
            _WADL_NUM.sub(
                lambda m: f"CAST('{m.group(0)}' AS DECIMAL({p},{s}))", t
            )
            for t in args
        ]

    for fn in _WADL_FNS:
        sql = _map_fn_args(sql, fn, widen)

    # array(...) <op> array(...) literal comparisons
    pos = 0
    while True:
        m = _find_outside(_WADL_CMP_RE, sql, pos)
        if m is None:
            return sql
        a_end = _scan(sql).close(m.end())
        om = re.match(r"\s*(!=|<>|<=|>=|=|<|>)\s*", sql[a_end:])
        if not om:
            pos = m.end()
            continue
        bm = _WADL_CMP_RE.match(sql, a_end + om.end())
        if not bm:
            pos = m.end()
            continue
        b_end = _scan(sql).close(bm.end())
        a_txt, b_txt = sql[m.start() : a_end], sql[a_end + om.end() : b_end]
        new = widen([a_txt, b_txt])
        if new is None:
            pos = m.end()
            continue
        rep = f"{new[0]} {om.group(1)} {new[1]}"
        sql = sql[: m.start()] + rep + sql[b_end:]
        pos = m.start() + len(rep)


_LCD_LAMBDA_RE = re.compile(
    r"^\(?\s*([A-Za-z_]\w*)\s*(?:,\s*([A-Za-z_]\w*)\s*)?\)?\s*->\s*",
)
_LCD_SCALAR_FNS = frozenset(
    {"from_base", "cast", "upper", "lower", "length", "concat_ws", "trim"}
)


def _lcd_depth(e: str, env: dict) -> int | None:
    """Array-nesting depth of a literal-ish expression under a lambda
    environment (var → depth). None = unknown."""
    e = e.strip()
    while e.startswith("(") and _scan(e).close(1) == len(e):
        e = e[1:-1].strip()
    if not e:
        return None
    if e in env:
        return env[e]
    if re.fullmatch(r"(?i)null", e):
        return 0  # a NULL element never raises the max in a literal array
    m = re.match(r"(?is)^array\s*[\[(]", e)
    if m:
        close = (
            _scan(e).close(m.end())
            if e[m.end() - 1] == "("
            else None
        )
        inner = e[m.end() : close - 1] if close else e[m.end() : -1]
        if not inner.strip():
            return 1
        depths = [
            _lcd_depth(x, env) for x in _scan(inner).items()
        ]
        if any(d is None for d in depths):
            return None
        return 1 + max(depths)
    fm = re.match(r"^([A-Za-z_]\w*)\s*\(", e)
    if fm and _scan(e).close(fm.end()) == len(e):
        fn = fm.group(1).lower()
        args = _scan(e[fm.end() : -1]).items()
        if fn == "transform" and len(args) == 2:
            lm = _LCD_LAMBDA_RE.match(args[1].strip())
            src_d = _lcd_depth(args[0], env)
            if lm and src_d is not None and src_d >= 1:
                body_d = _lcd_depth(
                    args[1].strip()[lm.end() :],
                    {**env, lm.group(1): src_d - 1},
                )
                return None if body_d is None else 1 + body_d
            return None
        if fn in ("try_cast",) or fn == "cast":
            # depth from the textual cast target's ARRAY nesting
            am = re.search(r"(?is)\sAS\s+(.+)$", e[fm.end() : -1])
            if am:
                return len(
                    re.findall(r"(?i)\bARRAY\s*[(<]", am.group(1))
                )
            return None
        if fn in _LCD_SCALAR_FNS:
            return 0
        return None
    if re.fullmatch(r"-?\d+(?:\.\d+)?(?:[eE][+-]?\d+)?", e):
        return 0
    if re.fullmatch(r"'(?:[^']|'')*'", e):
        return 0
    return None


def _lcd_fix_body(body: str, env: dict) -> str:
    """Wrap the shallower items of mixed-depth ``||`` chains / concat()
    calls in array(…) — Presto's element||array append/prepend
    (ArrayConcatUtils) resolved through the lambda-var depths in env."""

    def fix_items(texts):
        depths = [_lcd_depth(t, env) for t in texts]
        if any(d is None for d in depths):
            return None
        dmax = max(depths)
        if dmax < 1 or all(d == dmax for d in depths):
            return None
        if not all(d in (dmax, dmax - 1) for d in depths):
            return None
        # a NULL element nulls the whole concat in Presto
        # (ArrayConcatUtils appendElement is RETURN_NULL_ON_NULL,
        # ATF71) — the wrap must propagate, not produce [null]
        return [
            f"IF(({t.strip()}) IS NULL, NULL, array({t.strip()}))"
            if d == dmax - 1
            else t
            for t, d in zip(texts, depths)
        ]

    def concat_fix(args):
        return fix_items(args) if len(args) >= 2 else None

    body = _map_fn_args(body, "concat", concat_fix)
    # top-level || chain
    parts, start = [], 0
    for m in _scan(body).top_matches(_CONCAT_OP_RE, "(["):
        parts.append(body[start : m.start()])
        start = m.end()
    if parts:
        parts.append(body[start:])
        fixed = fix_items(parts)
        if fixed is not None:
            return " || ".join(fixed)
    return body


def _rewrite_lambda_concat_depths(sql: str) -> str:
    """HOF lambdas over LITERAL constructor inputs: infer each lambda
    var's array depth from the input (transform element = input depth-1;
    transform_keys/values over map(array K, array V) bind key/value
    depths), then resolve Presto's mixed element||array concatenation
    inside the body (ATF71, MTKF201/218, MTVF206 —
    TestArrayTransform/TestMapTransform). Also lowers
    ``CAST(<array-depth-1 var> AS ARRAY(T))`` to an element-wise
    transform (MTVF198: the JSON-cast shim would misread the var as a
    JSON string). Columns and non-literal inputs are left untouched."""

    def fix(fname, args):
        if len(args) != 2:
            return None
        src, lam = args[0].strip(), args[1].strip()
        lm = _LCD_LAMBDA_RE.match(lam)
        if not lm:
            return None
        v1, v2 = lm.group(1), lm.group(2)
        env = {}
        if fname == "transform":
            d = _lcd_depth(src, {})
            if d is None or d < 1:
                return None
            env[v1] = d - 1
        else:
            mm = re.match(r"(?is)^map\s*\(", src)
            if not mm or not v2:
                return None
            close = _scan(src).close(mm.end())
            if close != len(src):
                return None
            margs = _scan(src[mm.end() : close - 1]).items()
            if len(margs) != 2:
                return None
            dk, dv = _lcd_depth(margs[0], {}), _lcd_depth(margs[1], {})
            if dk is None or dv is None or dk < 1 or dv < 1:
                return None
            env[v1], env[v2] = dk - 1, dv - 1
        body = lam[lm.end() :]
        # CAST(var AS ARRAY(T)) over a depth-1 var → element-wise cast
        for var, dep in env.items():
            if dep == 1:
                body = re.sub(
                    rf"(?is)\bCAST\s*\(\s*{var}\s+AS\s+ARRAY\s*"
                    rf"[(<]\s*(\w+)\s*[)>]\s*\)",
                    rf"transform({var}, __lcd -> CAST(__lcd AS \1))",
                    body,
                )
        new_body = _lcd_fix_body(body, env)
        if new_body == lam[lm.end() :]:
            return None
        return [src, lam[: lm.end()] + new_body]

    for fname in ("transform", "transform_keys", "transform_values"):
        sql = _map_fn_args(
            sql, fname, lambda a, f=fname: fix(f, a)
        )
    return sql


_INT_FAMILY_RE = re.compile(
    r"(?i)^\s*(\w+)\s+(TINYINT|SMALLINT|INT|INTEGER|BIGINT)\s*$"
)


def _rewrite_reduce_typing(sql: str) -> str:
    """Two reduce() typing gaps vs Presto (TestArrayReduceFunction):

    1. A small-int initial state over a BIGINT-element literal array —
       Presto unifies the state type upward, Spark rejects the lambda
       (ARF98): cast the literal initial state to BIGINT.
    2. ``s.f / s.g`` over integer-typed ROW-state fields is Presto
       integer division (ARF68); the field types are textually provable
       from the ``CAST(ROW(…) AS ROW(name TYPE, …))`` initial state —
       rewrite to DIV inside the final lambda."""

    def fix(args):
        if len(args) != 4:
            return None
        src, init = args[0].strip(), args[1].strip()
        out = None
        if re.match(r"(?is)^array\s*[\[(]", src) and re.fullmatch(
            r"-?\d+", init
        ):
            toks = re.findall(r"(?<![\w.])-?\d+(?![\w.])", src)
            if (
                any(abs(int(t)) > 2**31 - 1 for t in toks)
                and abs(int(init)) <= 2**31 - 1
            ):
                out = [src, f"CAST({init} AS BIGINT)", args[2], args[3]]
        m = re.match(
            r"(?is)^CAST\s*\(\s*ROW\s*\(.*\)\s+AS\s+ROW\s*\((.*)\)\s*\)$",
            init,
        )
        if m:
            fields = set()
            for part in _scan(m.group(1)).items():
                fm = _INT_FAMILY_RE.match(part)
                if fm:
                    fields.add(fm.group(1).lower())
            fin = args[3].strip()
            lm = _LCD_LAMBDA_RE.match(fin)
            if fields and lm:
                var = lm.group(1)
                body = fin[lm.end() :]
                pat = re.compile(
                    rf"\b{var}\.(\w+)\s*/\s*{var}\.(\w+)"
                )

                def sub(mm):
                    if (
                        mm.group(1).lower() in fields
                        and mm.group(2).lower() in fields
                    ):
                        return (
                            f"({var}.{mm.group(1)} DIV {var}.{mm.group(2)})"
                        )
                    return mm.group(0)

                nb = pat.sub(sub, body)
                if nb != body:
                    base = out or list(args)
                    base[3] = fin[: lm.end()] + nb
                    out = base
        return out

    return _map_fn_args(sql, "reduce", fix)


def _rewrite_contains(sql: str) -> str:
    """Presto ``contains(arr, e)`` → ``exists(arr, __ce -> __ce = e)``.
    Spark's array_contains insists struct element types match INCLUDING
    field names; ``=`` compares structs positionally, matching Presto's
    RowType equality."""

    def build(args):
        if len(args) != 2:
            return None
        # a NULL probe yields NULL even over an EMPTY array (AO525;
        # ArrayContains returns null on null value) — exists() over an
        # empty array would give false
        return (
            f"CASE WHEN ({args[1]}) IS NULL THEN CAST(NULL AS BOOLEAN) "
            f"ELSE exists({args[0]}, __ce -> __ce = ({args[1]})) END"
        )

    return _replace_fn_calls(sql, "contains", build)


_TRY_OPS = {"/": "try_divide", "%": "try_mod", "*": "try_multiply",
            "+": "try_add", "-": "try_subtract"}


def _rewrite_try_generic(sql: str) -> str:
    """Presto ``TRY(expr)`` → NULL on evaluation error. Runs after the
    TRY(CAST(..)) rewrite; here the remaining common forms map to Spark's
    try_* arithmetic (ANSI mode errors on overflow/zero-division, exactly
    what TRY guards). A binary top-level arithmetic op becomes the try_*
    twin; a SINGLE top-level comparison lowers each operand the same way
    (operand errors are the only TRY-swallowable ones there); malformed
    static JSON literals fold to NULL; TRY(ABS(bigint)) guards
    Long.MIN_VALUE. Multi-comparison boolean bodies are left for the
    analyzer to reject visibly (documented gap — fully generic
    error-swallowing can't be faked)."""

    def build(args):
        if len(args) != 1:
            return None
        e = args[0]
        # a top-level comparison/boolean op means the arithmetic is a
        # SUB-expression — splitting at the arith op would be wrong
        # precedence; leave it for the analyzer to reject visibly
        # strip redundant full-width paren wrapping (the engine's
        # column-division pre-rewrite parenthesizes its DIV output)
        while (
            e.startswith("(")
            and _scan(e).close(1) == len(e.rstrip())
        ):
            e = e[1 : e.rstrip().rindex(")")].strip()
        # any CAST under the TRY scope may fail and be swallowed
        # (Presto NULLs every evaluation error) — try_cast is
        # value-identical when the cast succeeds
        e = _casts_to_try(e)
        # a whole-body CASE … END (user-written, or shim-emitted — substr
        # guards, to_base/from_base sign splits): lower each THEN/ELSE
        # result arm through the try_* arithmetic so an erroring arm
        # yields NULL like Presto's TRY; non-arith arms (every shim
        # shape) pass through unchanged
        if re.match(r"(?is)^\s*CASE\b.*\bEND\s*$", e):
            lowered_case = _lower_try_case(e)
            return f"({lowered_case if lowered_case is not None else e})"
        cmps = list(re.finditer(
            r"!=|<>|<=|>=|=|<|>", _scan(e).flat()
        ))
        if cmps:
            # a SINGLE top-level comparison: the only error sources TRY
            # can swallow are arithmetic/cast errors in its operands
            # (comparisons themselves don't error), so lowering each
            # side through the try_* arithmetic IS the TRY semantics —
            # an erroring operand → NULL operand → NULL comparison
            # (testNonEqualityJoinWithTryInFilter). Multiple comparisons
            # / boolean connectives stay a visible analyzer reject.
            if len(cmps) == 1:
                m0 = cmps[0]
                lhs, rhs = e[:m0.start()].strip(), e[m0.end():].strip()

                def _try_side(s):
                    # a fully-parenthesized operand hides its arithmetic
                    # from the top-level scan — unwrap before lowering
                    # (fuzzer-caught: TRY((-7 / b) <> b) must try_divide);
                    # same for a unary sign over a paren group, the shape
                    # the integral-division pre-rewrite emits (-(7 DIV b))
                    while (
                        s.startswith("(")
                        and _scan(s).close(1) == len(s.rstrip())
                    ):
                        s = s[1:s.rstrip().rindex(")")].strip()
                    mu = re.match(r"^([-+])\s*\(", s)
                    if mu and _scan(s).close(mu.end()) == len(s.rstrip()):
                        inner = _try_side(
                            s[mu.end():s.rstrip().rindex(")")].strip()
                        )
                        return f"{mu.group(1)}({inner})"
                    return _lower_try_arith(s) or s

                if lhs and rhs:
                    return (f"(({_try_side(lhs)}) {m0.group(0)}"
                            f" ({_try_side(rhs)}))")
            return None
        # TRY(ABS(x)): bigint abs overflows on exactly Long.MIN_VALUE
        # (AbsFunction checkCondition) — guard that value to NULL; the
        # inner expression is itself try-lowered first. (A DOUBLE inner
        # equal to -2^63 would false-NULL — integral-typed sites only.)
        mm = re.match(r"^abs\s*\(", e, re.IGNORECASE)
        if mm and _scan(e).close(mm.end()) == len(e):
            x = e[mm.end():-1].strip()
            xl = _lower_try_arith(x) or x
            return (f"(CASE WHEN ({xl}) = BIGINT '-9223372036854775808'"
                    f" THEN NULL ELSE abs({xl}) END)")
        # TRY over the 2-arg map constructor: Presto's map() raises on a
        # NULL key or length-mismatched arrays and TRY yields NULL
        # (MapConstructor.java); guard both conditions explicitly — the
        # generic pass-through below would let the runtime error escape.
        mm = re.match(r"^map(?:_from_arrays)?\s*\(", e, re.IGNORECASE)
        if mm:
            close = _scan(e).close(mm.end())
            if close == len(e):
                args = _scan(e[mm.end() : close - 1]).items()
                if len(args) == 2:
                    ks, vs = args[0].strip(), args[1].strip()
                    return (
                        f"(CASE WHEN exists(({ks}), __tk_ -> __tk_ IS NULL)"
                        f" OR size(({ks})) <> size(({vs})) THEN NULL"
                        f" ELSE map_from_arrays(({ks}), ({vs})) END)"
                    )
        # TRY(JSON '...') over a MALFORMED literal folds to NULL at
        # rewrite time (the literal is static — JsonUtil.createJsonParser
        # rejects it at parse, TRY swallows); a well-formed literal falls
        # through to the typed-literal canonicalization
        mm = re.match(r"(?is)^JSON\s*('(?:[^']|'')*')$", e.strip())
        if mm:
            import json as _json

            lit = mm.group(1)
            try:
                _json.loads(
                    lit[1:-1].replace("''", "'").replace("\\\\", "\\")
                )
            except ValueError:
                return "(NULL)"
        # TRY(json_parse(x)) is the standard bad-row-cleaning idiom: the
        # shim's raise_error cannot be swallowed, so re-express the
        # validation as a NULL-yielding guard (JsonFunctions.java
        # json_parse + TRY → NULL on malformed text)
        mm = re.match(r"^json_parse\s*\(", e, re.IGNORECASE)
        if mm:
            close = _scan(e).close(mm.end())
            if close == len(e):
                x = e[mm.end() : close - 1].strip()
                # the canonicalizer returns NULL on malformed text —
                # exactly TRY's contract
                return f"(__presto_json_parse(({x})))"
        lowered = _lower_try_arith(e)
        if lowered is not None:
            return lowered
        # non-arithmetic TRY: pass through — correct whenever the inner
        # expression doesn't error; an erroring input raises instead of
        # yielding NULL (documented deviation; generic error-swallowing
        # isn't expressible in Spark SQL)
        return f"({e})"

    return _replace_fn_calls(sql, "try", build)


def _top_level_binops(e: str) -> list:
    """Positions of top-level binary arithmetic operators in ``e``
    (unary +/- signs excluded; includes the engine's lowered integral
    ``DIV``), as (index, token) pairs in order."""
    sc, pos = _scan(e), []
    for k, c in enumerate(e):
        if c in _TRY_OPS and sc.top(k, "(["):
            j = k - 1
            while j >= 0 and e[j].isspace():
                j -= 1
            if c in "+-" and (j < 0 or e[j] in "(,+-*/%"):
                continue  # unary sign
            pos.append((k, c))
    for m in re.finditer(r"\bDIV\b", sc.flat()):
        pos.append((m.start(), "DIV"))
    pos.sort()
    return pos


def _lower_try_arith(e: str):
    """Lower an arithmetic expression to nested try_* calls, splitting
    at the LAST top-level operator of the LOWEST precedence class so
    left-associative evaluation order is preserved (TRY(a*b+c) →
    try_add(try_multiply(a, b), c), not try_multiply(a, b+c)). Returns
    None when no top-level arithmetic operator exists."""
    e = e.strip()
    while e.startswith("(") and _scan(e).close(1) == len(e.rstrip()):
        e = e[1 : e.rstrip().rindex(")")].strip()
    # a top-level predicate keyword means +/- tokens may be unary signs
    # after a keyword (ELSE -8) or live inside an arm/operand (THEN 1+2,
    # BETWEEN -1 AND 2) — splitting there breaks the syntax (fuzz find,
    # seed 777 #2556). But a BALANCED ``CASE … END`` block is a
    # self-contained operand: arithmetic OUTSIDE it (``CASE … END / b``,
    # the shape every NULL-propagation shim emits — least/greatest,
    # substr guards) still needs the try_* lowering, or a zero divisor
    # escapes the TRY as an ANSI error (fuzz find, seed 7 #12). Mask the
    # CASE spans, refuse only on keywords outside them, and split only
    # at operators outside them.
    masked = _scan(e).flat()
    spans, stack = [], []
    for mkw in re.finditer(r"\b(CASE|END)\b", masked, re.IGNORECASE):
        if mkw.group(1).upper() == "CASE":
            stack.append(mkw.start())
        elif stack:
            start = stack.pop()
            if not stack:
                spans.append((start, mkw.end()))
        else:
            return None  # unbalanced END — not an expression we can split
    if stack:
        return None  # unbalanced CASE

    def _outside(i: int) -> bool:
        return not any(s <= i < t for s, t in spans)

    if any(
        _outside(mkw.start())
        for mkw in re.finditer(
            r"\b(CASE|WHEN|THEN|ELSE|END|BETWEEN|LIKE|IS|IN|AND|OR|NOT)\b",
            masked,
            re.IGNORECASE,
        )
    ):
        return None
    ops = [(k, c) for k, c in _top_level_binops(e) if _outside(k)]
    if not ops:
        return None
    additive = [(k, c) for k, c in ops if c in "+-"]
    k, c = (additive or ops)[-1]
    left, right = e[:k].strip(), e[k + len(c) :].strip()
    left_l = _lower_try_arith(left) or left
    right_l = _lower_try_arith(right) or right
    if c == "DIV":
        # integral division lowered by the column-division pre-rewrite;
        # truncate the try_divide back to the integral result
        return f"CAST(try_divide({left_l}, {right_l}) AS BIGINT)"
    return f"{_TRY_OPS[c]}({left_l}, {right_l})"


_CASE_KW_RE = re.compile(r"\b(CASE|WHEN|THEN|ELSE|END)\b", re.IGNORECASE)

_CAST_TOKEN_RE = re.compile(r"\bCAST\s*\(", re.IGNORECASE)


# Null-propagating scalar functions (RETURN_NULL_ON_NULL in the reference
# registry): a NULL argument yields a NULL result, so a failing CAST in an
# argument position propagates through to the TRY result as NULL.
_TRY_STRICT_FNS = frozenset({
    "abs", "concat", "upper", "lower", "length", "substr", "substring",
    "trim", "ltrim", "rtrim", "round", "floor", "ceil", "ceiling",
    "sqrt", "ln", "log", "log2", "log10", "exp", "power", "pow", "mod",
    "from_base", "to_base", "date_parse", "date_format", "date_add",
    "date_diff", "from_unixtime", "to_unixtime", "strpos", "reverse",
    "replace", "lpad", "rpad", "split_part", "codepoint", "chr",
    "to_hex", "from_hex", "truncate", "sign", "degrees", "radians",
    "cbrt", "sin", "cos", "tan", "asin", "acos", "atan", "atan2",
    "bitwise_and", "bitwise_or", "bitwise_xor", "bitwise_not",
})

_TRY_STRICT_BINOP_RE = re.compile(r"!=|<>|<=|>=|\|\||[=<>+\-*/%]")
_TRY_NONSTRICT_KW_RE = re.compile(
    r"\b(AND|OR|NOT|IS|IN|BETWEEN|LIKE|WHEN|THEN|ELSE|END|CASE)\b",
    re.IGNORECASE,
)


def _case_result_arm_spans(e: str):
    """(start, end) spans of the OUTER ``CASE … END``'s THEN/ELSE result
    arms in ``e`` (keyword scan with CASE-nesting depth — nested CASE
    inside an arm is not hidden by paren masking, so plain regex
    splitting would mis-pair keywords). None when unbalanced."""
    masked = _scan(e).flat()
    depth, arms, cur = 0, [], None
    for m in _CASE_KW_RE.finditer(masked):
        kw = m.group(1).upper()
        if kw == "CASE":
            depth += 1
        elif kw == "END":
            depth -= 1
            if depth == 0 and cur is not None:
                arms.append((cur, m.start()))
                cur = None
        elif depth == 1 and kw in ("THEN", "ELSE"):
            if cur is not None:
                arms.append((cur, m.start()))
            cur = m.end()
        elif depth == 1 and kw == "WHEN" and cur is not None:
            arms.append((cur, m.start()))
            cur = None
    return arms if depth == 0 else None


def _casts_to_try(e: str) -> str:
    """``CAST(`` → ``TRY_CAST(`` — but ONLY in positions where a NULL
    provably propagates to the value of ``e``, so the conversion is
    faithful to Presto's whole-expression TRY semantics
    (TestConditions/TestTryFunction). The round-10 blanket conversion
    made ``TRY(coalesce(CAST('x' AS INTEGER), 5))`` yield 5 where Presto
    yields NULL (the cast error aborts the coalesce; TRY nulls the whole
    expression). Propagating contexts, applied recursively:

    - the whole body is a (TRY_)CAST — its operand propagates too;
    - operands of strict binary operators (arith, comparison, ``||``,
      DIV) when no top-level non-strict keyword (AND/OR/IS/IN/…) mixes in;
    - THEN/ELSE result arms of a whole-body CASE (the selected arm's
      value IS the result; WHEN conditions are NOT converted — a NULL
      there selects another arm instead of nulling the result);
    - arguments of whitelisted null-propagating scalar functions.

    A cast anywhere else stays plain CAST: a failure then raises visibly
    (the documented generic-TRY deviation) instead of silently changing
    a null-absorbing context's value (coalesce, IS NULL, count …)."""
    s = e.strip()
    if not s or "CAST" not in s.upper():
        return e
    lead = e[: len(e) - len(e.lstrip())]
    trail = e[len(e.rstrip()) :]

    def wrap(x: str) -> str:
        return lead + x + trail

    if s.startswith("(") and _scan(s).close(1) == len(s):
        return wrap("(" + _casts_to_try(s[1:-1]) + ")")
    masked = _scan(s).flat()
    if "->" in masked:  # top-level lambda arrow: leave alone
        return e
    if re.match(r"(?is)^CASE\b", masked) and re.search(
        r"(?is)\bEND\s*$", masked
    ):
        arms = _case_result_arm_spans(s)
        if not arms:
            return e
        out, prev = [], 0
        for a, b in arms:
            out.append(s[prev:a])
            out.append(_casts_to_try(s[a:b]))
            prev = b
        out.append(s[prev:])
        return wrap("".join(out))
    if not _TRY_NONSTRICT_KW_RE.search(masked):
        ops = [
            (m.start(), m.end())
            for m in _TRY_STRICT_BINOP_RE.finditer(masked)
        ] + [
            (m.start(), m.end()) for m in re.finditer(r"\bDIV\b", masked)
        ]
        if ops:
            ops.sort()
            out, prev = [], 0
            for a, b in ops:
                out.append(_casts_to_try(s[prev:a]))
                out.append(s[a:b])
                prev = b
            out.append(_casts_to_try(s[prev:]))
            return wrap("".join(out))
    fm = re.match(r"(\w+)\s*\(", s)
    if fm and _scan(s).close(fm.end()) == len(s):
        fn = fm.group(1).lower()
        inner = s[fm.end() : -1]
        if fn in ("cast", "try_cast"):
            am = re.search(r"(?is)\bAS\b", _scan(inner).flat())
            if am is None:
                return e
            return wrap(
                "TRY_CAST("
                + _casts_to_try(inner[: am.start()])
                + inner[am.start() :]
                + ")"
            )
        if fn in _TRY_STRICT_FNS:
            args = _scan(inner).items()
            return wrap(
                fm.group(1)
                + "("
                + ", ".join(_casts_to_try(a) for a in args)
                + ")"
            )
    return e


def _lower_try_case(e: str):
    """TRY over a whole-body ``CASE … END``: Presto evaluates the CASE
    and NULLs any evaluation error. Spark has no generic TRY, so lower
    each top-level THEN/ELSE result arm through ``_lower_try_arith``
    (arith overflow/zero-division become NULL via try_*); arms with no
    top-level arithmetic — every shim-emitted shape — stay verbatim.
    Returns the rewritten CASE text, or None when ``e`` is not a
    well-formed whole-body CASE."""
    masked = _scan(e).flat()
    if not re.match(r"(?is)^\s*CASE\b", masked) or not re.search(
        r"(?is)\bEND\s*$", masked
    ):
        return None
    # an arm containing a nested CASE spans it whole — the
    # keyword-refusal in _lower_try_arith keeps it verbatim
    arms = _case_result_arm_spans(e)
    if arms is None:
        return None
    out, prev, changed = [], 0, False
    for s, t in arms:
        # a failing CAST in a THEN/ELSE arm is swallowed by the outer
        # TRY (Presto NULLs any evaluation error) — try_cast first, then
        # the arithmetic lowering over the converted arm
        arm = _casts_to_try(e[s:t])
        low = _lower_try_arith(arm)
        if low is None and arm != e[s:t]:
            low = arm
        out.append(e[prev:s])
        if low is not None:
            out.append(f" {low} ")
            changed = True
        else:
            out.append(e[s:t])
        prev = t
    out.append(e[prev:])
    return "".join(out) if changed else e


_VALUES_LIST_END_RE = re.compile(
    r"(ORDER|LIMIT|UNION|EXCEPT|INTERSECT|WHERE|GROUP|HAVING|AS)\b",
    re.IGNORECASE,
)


def _strip_values_row(sql: str) -> str:
    """``VALUES ROW(a, b), ROW(c, d)`` — in a VALUES list, ROW is the
    standard row constructor, not a struct value; strip the keyword so
    each item becomes a plain parenthesized row. Scalar ROW(..) calls
    elsewhere stay for _rewrite_row_constructor (→ struct)."""
    out = []
    i = 0
    while True:
        m = re.search(r"\bVALUES\b", sql[i:], re.IGNORECASE)
        if not m:
            out.append(sql[i:])
            return "".join(out)
        start = i + m.end()
        out.append(sql[i : start])

        def flush(s):
            sm = re.match(r"^(\s*)ROW\s*\(", s, re.IGNORECASE)
            if sm and _scan(s).close(sm.end()) == len(s.rstrip()):
                return sm.group(1) + s[sm.end() - 1 :]
            return s

        spans = _scan(sql).run(start, _VALUES_LIST_END_RE)
        out.append(",".join(flush(sql[a:b]) for a, b in spans))
        i = spans[-1][1]


def _rewrite_row_constructor(sql: str) -> str:
    """Presto ``ROW(a, b)`` constructor (RowType) → Spark ``struct(a, b)``.
    Only the call form is touched; type-position ``ROW(...)`` is already
    consumed by the cast rewrites that run earlier."""

    def build(args):
        return f"struct({', '.join(args)})" if args else None

    return _replace_fn_calls(sql, "row", build)


_MAP_CALL_HEAD_RE = re.compile(
    r"\b(MAP|map_from_arrays|map_from_entries|map_concat|map_filter"
    r"|transform_keys|transform_values)\s*\(",
    re.IGNORECASE,
)
_MAP_CMP_OP_RE = re.compile(
    r"\s*(IS\s+NOT\s+DISTINCT\s+FROM|IS\s+DISTINCT\s+FROM|<>|!=|=)\s*",
    re.IGNORECASE,
)


_MAP_NESTED_RE = re.compile(
    r"\b(map|map_from_arrays|map_from_entries|map_concat)\s*\(",
    re.IGNORECASE,
)


def _map_valued_constructor(t: str) -> bool:
    """True when ``t`` is a textual map constructor whose VALUES are
    themselves map constructors (map keys cannot be maps in Presto, so
    a nested constructor implies map-typed values — MO737/739)."""
    t = t.strip()
    m = _MAP_CALL_HEAD_RE.match(t)
    return bool(m) and bool(_MAP_NESTED_RE.search(t[m.end() :]))


def _map_distinct_expr(a: str, b: str, depth: int = 0) -> str:
    """IS DISTINCT FROM over maps is a TOTAL comparator
    (MapDistinctFromOperator): NULL values compare null-safely (two
    NULL-valued entries are NOT distinct), unlike `=`'s three-valued
    result. Map-typed VALUES recurse (Spark <=> rejects MapType)."""
    k = f"__mk{depth}"
    av, bv = f"try_element_at({a}, {k})", f"try_element_at({b}, {k})"
    if _map_valued_constructor(a) or _map_valued_constructor(b):
        vd = _map_distinct_expr(f"({av})", f"({bv})", depth + 1)
        tail = f"ELSE exists(map_keys({a}), {k} -> ({vd})) END"
    else:
        tail = f"ELSE NOT forall(map_keys({a}), {k} -> {av} <=> {bv}) END"
    return (
        f"CASE WHEN ({a}) IS NULL AND ({b}) IS NULL THEN false "
        f"WHEN ({a}) IS NULL OR ({b}) IS NULL THEN true "
        f"WHEN size({a}) <> size({b}) THEN true "
        f"WHEN NOT forall(map_keys({a}), {k} -> map_contains_key({b}, {k})) "
        f"THEN true "
        f"{tail}"
    )


def _map_eq_expr(a: str, b: str, depth: int = 0) -> str:
    """Presto map equality (MapOperators / MapGenericEquality): same key
    set, all values equal; NULL when a value comparison is
    indeterminate and nothing else differs. Spark has no map =, so spell
    the three-valued logic over map_keys/try_element_at (containment is
    checked before any value access, so ANSI element lookups are safe).
    Map-typed VALUES recurse through this same three-valued form."""
    k = f"__mk{depth}"
    av, bv = f"try_element_at({a}, {k})", f"try_element_at({b}, {k})"
    if _map_valued_constructor(a) or _map_valued_constructor(b):
        veq = _map_eq_expr(f"({av})", f"({bv})", depth + 1)
        false_pred = f"(({veq}) = false)"
        null_pred = f"(({veq}) IS NULL)"
    else:
        false_pred = (
            f"({av} IS NOT NULL AND {bv} IS NOT NULL AND {av} <> {bv})"
        )
        null_pred = f"({av} IS NULL OR {bv} IS NULL)"
    return (
        f"CASE WHEN ({a}) IS NULL OR ({b}) IS NULL THEN CAST(NULL AS BOOLEAN) "
        f"WHEN size({a}) <> size({b}) THEN false "
        f"WHEN NOT forall(map_keys({a}), {k} -> map_contains_key({b}, {k})) "
        f"THEN false "
        f"WHEN exists(map_keys({a}), {k} -> {false_pred}) THEN false "
        f"WHEN exists(map_keys({a}), {k} -> {null_pred}) "
        f"THEN CAST(NULL AS BOOLEAN) "
        f"ELSE true END"
    )


def _rewrite_map_equality(sql: str) -> str:
    """``MAP(…) = MAP(…)`` / ``<>`` / ``!=`` where BOTH sides are
    textually map-producing calls → the three-valued equality expression
    (Spark rejects = on MapType: DATATYPE_MISMATCH.INVALID_ORDERING_TYPE).
    Both-sides-call is the provable case; map-typed columns/aliases keep
    Spark's error (documented)."""
    # NULL IS [NOT] DISTINCT FROM MAP(...) — left-NULL form
    i = 0
    nl_re = re.compile(
        r"\bNULL\s+IS\s+(NOT\s+)?DISTINCT\s+FROM\s*", re.IGNORECASE
    )
    while True:
        m = nl_re.search(sql, i)
        if not m:
            break
        m2 = _MAP_CALL_HEAD_RE.match(sql, m.end())
        if m2 is None:
            i = m.end()
            continue
        j2 = _scan(sql).close(m2.end())
        d = f"(({sql[m.end() : j2]}) IS NOT NULL)"
        rep = f"(NOT {d})" if m.group(1) else d
        sql = sql[: m.start()] + rep + sql[j2:]
        i = m.start() + len(rep)
    i = 0
    while True:
        mask = _literal_mask(sql)
        m = _MAP_CALL_HEAD_RE.search(sql, i)
        if not m:
            return sql
        if mask[m.start()]:
            i = m.end()
            continue
        j = _scan(sql).close(m.end())
        om = _MAP_CMP_OP_RE.match(sql, j)
        if om is None:
            i = m.end()
            continue
        op = " ".join(om.group(1).upper().split())
        m2 = _MAP_CALL_HEAD_RE.match(sql, om.end())
        nm2 = re.compile(r"NULL\b", re.IGNORECASE).match(sql, om.end())
        if m2 is not None:
            j2 = _scan(sql).close(m2.end())
            b = sql[om.end() : j2]
        elif nm2 is not None and op.startswith("IS"):
            j2, b = nm2.end(), None
        else:
            i = m.end()
            continue
        a = sql[m.start() : j]
        if op == "=":
            rep = _map_eq_expr(a, b)
        elif op in ("<>", "!="):
            rep = f"(NOT {_map_eq_expr(a, b)})"
        else:
            # DISTINCT forms; a NULL right side reduces to a null check
            d = (
                f"(({a}) IS NOT NULL)"
                if b is None
                else _map_distinct_expr(a, b)
            )
            rep = d if op == "IS DISTINCT FROM" else f"(NOT {d})"
        sql = sql[: m.start()] + rep + sql[j2:]
        i = m.start() + len(rep)


_ARRROW_CALL_HEAD_RE = re.compile(r"\b(array|row|struct)\s*\(", re.IGNORECASE)
_ARRROW_CMP_OP_RE = re.compile(r"\s*(=|!=|<>)\s*")


def _array_eq_expr(a: str, b: str, nested: bool) -> str:
    """Three-valued array equality (ArrayEqualOperator): length mismatch
    → false, any position false → false, else any position NULL → NULL,
    else true. ``nested`` compares one extra array level the same way."""
    lam = "(__l2, __r2) -> (__l2 = __r2)"
    if nested:
        inner = (
            f"CASE WHEN __l IS NULL OR __r IS NULL THEN NULL"
            f" WHEN size(__l) <> size(__r) THEN false"
            f" WHEN exists(zip_with(__l, __r, {lam}), __e2 -> __e2 = false)"
            f" THEN false"
            f" WHEN exists(zip_with(__l, __r, {lam}), __e2 -> __e2 IS NULL)"
            f" THEN NULL ELSE true END"
        )
    else:
        inner = "(__l = __r)"
    z = f"zip_with({a}, {b}, (__l, __r) -> {inner})"
    return (
        f"(CASE WHEN size({a}) <> size({b}) THEN false"
        f" WHEN exists({z}, __e -> __e = false) THEN false"
        f" WHEN exists({z}, __e -> __e IS NULL) THEN NULL"
        f" ELSE true END)"
    )


def _rewrite_array_row_equality(sql: str) -> str:
    """``array(…) = array(…)`` / ``row(…) = row(…)`` (and <>/!=) where
    BOTH sides are textual constructors AND a NULL element is present:
    Presto's equality is three-valued over element comparisons
    (ArrayEqualOperator / RowEqualOperator — a NULL element makes the
    result NULL unless some position is definitely unequal), while Spark
    = treats NULL elements as equal values. NULL-free literals keep
    Spark's native = (same result, simpler plan)."""
    i = 0
    while True:
        m = _find_outside(_ARRROW_CALL_HEAD_RE, sql, i)
        if m is None:
            return sql
        j = _scan(sql).close(m.end())
        om = _ARRROW_CMP_OP_RE.match(sql, j)
        if om is None:
            i = m.end()
            continue
        m2 = _ARRROW_CALL_HEAD_RE.match(sql, om.end())
        kind = m.group(1).lower()
        kind2 = m2.group(1).lower() if m2 else None
        norm = {"struct": "row"}
        if m2 is None or norm.get(kind, kind) != norm.get(kind2, kind2):
            i = m.end()
            continue
        j2 = _scan(sql).close(m2.end())
        a, b = sql[m.start() : j], sql[om.end() : j2]
        # fire on a NULL element (three-valued semantics differ) or a
        # map-typed ROW field (Spark struct = rejects MapType members,
        # RO2511/2512) — NULL-free map-free literals keep Spark's =
        has_map_field = kind == "row" and bool(
            _MAP_NESTED_RE.search(a) or _MAP_NESTED_RE.search(b)
        )
        if (
            not re.search(r"\bnull\b", a + b, re.IGNORECASE)
            and not has_map_field
        ):
            i = m.end()
            continue
        op = om.group(1)
        if kind == "array":
            aargs = _scan(sql[m.end() : j - 1]).items()
            bargs = _scan(sql[m2.end() : j2 - 1]).items()
            nested = bool(aargs and bargs) and all(
                re.match(r"(?is)^\s*array\s*\(", x) or
                re.fullmatch(r"(?is)\s*null\s*", x)
                for x in aargs + bargs
            )
            eq = _array_eq_expr(a, b, nested)
        else:
            aargs = _scan(sql[m.end() : j - 1]).items()
            bargs = _scan(sql[m2.end() : j2 - 1]).items()
            if len(aargs) != len(bargs):
                i = m.end()
                continue
            eqs = [
                f"({_map_eq_expr(x.strip(), y.strip())})"
                if _MAP_CALL_HEAD_RE.match(x.strip())
                and _MAP_CALL_HEAD_RE.match(y.strip())
                else f"(({x.strip()}) = ({y.strip()}))"
                for x, y in zip(aargs, bargs)
            ]
            falses = " OR ".join(f"{e} = false" for e in eqs)
            nulls = " OR ".join(f"{e} IS NULL" for e in eqs)
            eq = (
                f"(CASE WHEN {falses} THEN false"
                f" WHEN {nulls} THEN NULL ELSE true END)"
            )
        rep = eq if op == "=" else f"(NOT {eq})"
        sql = sql[: m.start()] + rep + sql[j2:]
        i = m.start() + len(rep)


def _rewrite_map_from_arrays(sql: str) -> str:
    """Presto's 2-arg ``map(array_k, array_v)`` (MapConstructor.java) →
    ``map_from_arrays``. Spark's variadic key-value ``map(k1, v1, ...)``
    keeps working for other arities — 2-arg calls are always the Presto
    array-pair form on this surface."""

    def build(args):
        if len(args) == 2:
            # two quoted scalars can't be the Presto array-pair form —
            # e.g. the to_json options map('ignoreNullFields', 'false')
            # emitted by _rewrite_cast_to_json must stay a literal map()
            # call (Spark's option validation requires it)
            if all(re.fullmatch(r"'(?:[^']|'')*'", a.strip()) for a in args):
                return None
            return f"map_from_arrays({args[0]}, {args[1]})"
        return None

    return _replace_fn_calls(sql, "map", build)


_IN_VALUES_RE = re.compile(r"\b(IN)\s*\(\s*VALUES\b", re.IGNORECASE)


def _rewrite_in_values(sql: str) -> str:
    """Presto allows a bare VALUES body as the IN subquery
    (``x IN (VALUES 1, 2)``); Spark needs a SELECT wrapper."""
    while True:
        m = _find_outside(_IN_VALUES_RE, sql)
        if m is None:
            return sql
        open_i = sql.index("(", m.end(1))
        close_i = _scan(sql).close(open_i + 1)
        inner = sql[open_i + 1 : close_i - 1]
        # single-column VALUES lists project col1 by name — a bare star
        # breaks inside the projection-context IN rewrite's CASE frame.
        # Multi-column rows (tuple IN) genuinely need the star.
        first = inner.strip()[len("VALUES") :].lstrip()
        proj = "col1"
        if first.startswith("("):
            item_end = _scan(first).close(1)
            if len(_scan(first[1 : item_end - 1]).items()) > 1:
                proj = "*"
        sql = (
            sql[: open_i]
            + f"(SELECT {proj} FROM ({inner}))"
            + sql[close_i:]
        )


def _rewrite_apply_lambda(sql: str) -> str:
    """Presto ``apply(x, v -> body)`` (LambdaFunctions.java — invoke a
    unary lambda on a value) has no Spark twin; route it through the
    array HOF machinery: ``element_at(transform(array(x), v -> body), 1)``
    — same scoping, capture and NULL semantics, one-element array."""

    def build(args):
        if len(args) != 2 or "->" not in args[1]:
            return None
        # a FROM-less scalar-subquery value (apply((SELECT 10), …) —
        # testLambdaInSubqueryContext) folds to its literal first: Spark
        # cannot nest a subquery inside the array() shim
        arg0 = _rewrite_fromless_subqueries(args[0])
        return f"element_at(transform(array({arg0}), {args[1]}), 1)"

    return _replace_fn_calls(sql, "apply", build)


def _rewrite_color_fn_arity(sql: str) -> str:
    """ColorFunctions.java color/render/bar are overloaded by arity;
    Spark UDFs don't overload, so dispatch to color1/color3/color5,
    render1/render2, bar2/bar4 (functions/color.py)."""

    def dispatch(fname, arities):
        def build(args):
            if len(args) in arities:
                return f"{fname}{len(args)}({', '.join(args)})"
            return None

        return build

    sql = _replace_fn_calls(sql, "color", dispatch("color", {1, 3, 5}))
    sql = _replace_fn_calls(sql, "render", dispatch("render", {1, 2}))
    sql = _replace_fn_calls(sql, "bar", dispatch("bar", {2, 4}))

    # bing_tile(quadkey) 1-arg form (BingTileFunctions.java toBingTile
    # overloads) → bing_tile_from_quadkey; 3-arg form is the SQL function.
    def bing(args):
        if len(args) == 1:
            return f"bing_tile_from_quadkey({args[0]})"
        return None

    return _replace_fn_calls(sql, "bing_tile", bing)


_NORM_FORMS = frozenset(("NFC", "NFD", "NFKC", "NFKD"))


# Character.isWhitespace's set (what Presto's trim family strips),
# spelled for the JVM regex engine through a Spark SQL string literal
# (one level of backslash escaping is consumed by the literal parser).
_JAVA_WS_CLASS = (
    "\\\\t-\\\\r\\\\u001C-\\\\u001F \\\\u1680\\\\u180E\\\\u2000-\\\\u2006"
    "\\\\u2008-\\\\u200A\\\\u2028\\\\u2029\\\\u205F\\\\u3000"
)


def _inline_string_shims(sql: str) -> str:
    """Inline the presto_trim/ltrim/rtrim/replace3/substr2/substr3 temp-
    function calls to pure expressions. Spark cannot resolve a SQL
    function body over a LAMBDA variable (``filter(a, x -> substr(x,
    1, 1))`` fails with MISSING_ATTRIBUTES after the shim rename), so
    the shims must not survive as calls. The inline bodies mirror
    functions/sql_udfs.py exactly; the temp functions stay registered
    for direct user calls. Safe under _replace_fn_calls' rescan: the
    bodies contain plain substr/replace/regexp_replace, never a
    presto_* name."""

    def trim_inline(anchored):
        pat = "|".join(a.format(cls=_JAVA_WS_CLASS) for a in anchored)

        def build(args):
            if len(args) == 1:
                return f"regexp_replace({args[0]}, '{pat}', '')"
            return None

        return build

    sql = _replace_fn_calls(
        sql, "presto_trim", trim_inline(("^[{cls}]+", "[{cls}]+$"))
    )
    sql = _replace_fn_calls(sql, "presto_ltrim", trim_inline(("^[{cls}]+",)))
    sql = _replace_fn_calls(sql, "presto_rtrim", trim_inline(("[{cls}]+$",)))

    def replace3(args):
        if len(args) != 3:
            return None
        s, p, r = (a.strip() for a in args)
        if re.fullmatch(r"'[^']+'", p):  # non-empty literal search:
            return f"replace({s}, {p}, {r})"  # Spark already matches
        # Presto's empty search interleaves the replacement around every
        # code point (StringFunctions.java:121-133); __rc is a
        # collision-proof lambda var (never user-visible)
        interleave = (
            f"CASE WHEN ({s}) = '' THEN ({r}) "
            f"ELSE concat({r}, array_join(transform(split({s}, ''), "
            f"__rc -> concat(__rc, {r})), '')) END"
        )
        if p == "''":
            return interleave
        return (
            f"CASE WHEN ({p}) = '' THEN {interleave} "
            f"ELSE replace({s}, {p}, {r}) END"
        )

    sql = _replace_fn_calls(sql, "presto_replace3", replace3)

    def substr_inline(args):
        if len(args) not in (2, 3):
            return None
        s, st = args[0].strip(), args[1].strip()
        tail = f", {args[2].strip()}" if len(args) == 3 else ""
        if re.fullmatch(r"[1-9]\d*", st):  # positive literal start:
            return f"substr({s}, {st}{tail})"  # Spark already matches
        # start 0 / negative-before-head → '' (substr(s,1,0) keeps NULL
        # inputs NULL)
        return (
            f"CASE WHEN ({st}) = 0 OR ({st}) < -length({s}) "
            f"THEN substr({s}, 1, 0) ELSE substr({s}, {st}{tail}) END"
        )

    sql = _replace_fn_calls(sql, "presto_substr2", substr_inline)
    return _replace_fn_calls(sql, "presto_substr3", substr_inline)


def _rewrite_string_compat(sql: str) -> str:
    """String-function deviations caught by the scalar-assert corpus
    (StringFunctions.java parity — see functions/sql_udfs.py for each
    shim's semantics):

    - 1-arg trim/ltrim/rtrim → Java-whitespace shims
    - 2-arg trim family → Spark's ``TRIM(BOTH chars FROM s)`` form
      (native set-trim; empty char set is a no-op on both engines)
    - 3-arg replace → empty-search-aware shim
    - substr / substring (incl. ``FROM … FOR …`` grammar) → start-0 /
      past-head-negative shims
    - normalize(s[, FORM]) with bare form keywords → unicode_normalize

    The presto_* names emitted here are then INLINED to pure
    expressions by _inline_string_shims (below): a SQL temp function
    body cannot capture a lambda variable, so the call forms broke
    every ``transform/filter(…, x -> substr(x, …))`` with
    MISSING_ATTRIBUTES (scalar-corpus finding, round 8). Two passes
    because _replace_fn_calls rescans its replacement — a builder may
    never emit a same-name call, and the inline bodies contain plain
    substr/replace."""

    def trim_family(name, spark_kind):
        def build(args):
            if len(args) == 1:
                # already the Spark BOTH/LEADING/TRAILING … FROM … form
                # (incl. our own 2-arg output on the rescan) — leave it
                if re.match(
                    r"\s*(BOTH|LEADING|TRAILING)\b", args[0], re.IGNORECASE
                ):
                    return None
                return f"presto_{name}({args[0]})"
            if len(args) == 2:
                return f"trim({spark_kind} {args[1]} FROM {args[0]})"
            return None

        return build

    sql = _replace_fn_calls(sql, "trim", trim_family("trim", "BOTH"))
    sql = _replace_fn_calls(sql, "ltrim", trim_family("ltrim", "LEADING"))
    sql = _replace_fn_calls(sql, "rtrim", trim_family("rtrim", "TRAILING"))

    def replace3(args):
        if len(args) == 3:
            return f"presto_replace3({', '.join(args)})"
        return None

    sql = _replace_fn_calls(sql, "replace", replace3)

    def substr_build(args):
        if len(args) == 1:
            # SUBSTRING(e FROM a [FOR b]) grammar form — single "arg"
            # carrying top-level FROM/FOR keywords
            masked = _scan(args[0]).flat()
            fm = re.search(r"\bFROM\b", masked, re.IGNORECASE)
            if not fm:
                return None
            e = args[0][: fm.start()].strip()
            rest = args[0][fm.end() :]
            rm = re.search(r"\bFOR\b", masked[fm.end() :], re.IGNORECASE)
            if rm:
                a = rest[: rm.start()].strip()
                b = args[0][fm.end() + rm.end() :].strip()
                return f"presto_substr3({e}, {a}, {b})"
            return f"presto_substr2({e}, {rest.strip()})"
        if len(args) == 2:
            return f"presto_substr2({', '.join(args)})"
        if len(args) == 3:
            return f"presto_substr3({', '.join(args)})"
        return None

    sql = _replace_fn_calls(sql, "substr", substr_build)
    sql = _replace_fn_calls(sql, "substring", substr_build)
    sql = _inline_string_shims(sql)

    def normalize(args):
        if len(args) == 1:
            return f"unicode_normalize('NFC', {args[0]})"
        if len(args) == 2 and args[1].strip().upper() in _NORM_FORMS:
            return f"unicode_normalize('{args[1].strip().upper()}', {args[0]})"
        return None

    sql = _replace_fn_calls(sql, "normalize", normalize)

    # 2-arg from_utf8(bin, replacement) — custom replacement (string or
    # codepoint) needs the Python shim; the 1-arg default-U+FFFD form
    # stays the JVM decode (session codingErrorAction=REPLACE)
    def from_utf8(args):
        if len(args) == 2:
            return f"presto_from_utf8({', '.join(args)})"
        return None

    return _replace_fn_calls(sql, "from_utf8", from_utf8)


_ROW_FIELD_RE = re.compile(r"\b(row|struct)\s*\(", re.IGNORECASE)

# Spark typeof() → Presto 0.216 type-name spellings (typeof scalar,
# TypeOfFunction.java); parameterized names (varchar(n), array(...))
# stay Spark-spelled — documented deviation.
_TYPEOF_NAME_MAP = (
    ("int", "integer"),
    ("string", "varchar"),
    ("void", "unknown"),
    ("float", "real"),
    ("binary", "varbinary"),
)


_JSON_LIT_CAST_RE = re.compile(
    rf"\b(TRY_)?CAST\s*\(\s*JSON\s*({_SQL_STR_LIT})\s+AS\s+"
    r"((?:BIGINT|INTEGER|INT|SMALLINT|TINYINT|DOUBLE|REAL|BOOLEAN|VARCHAR"
    r"|DECIMAL\s*\(\s*\d+\s*,\s*\d+\s*\)"
    r"|ARRAY\s*[(<]\s*(?:BIGINT|INTEGER|INT|SMALLINT|TINYINT|DOUBLE|REAL"
    r"|BOOLEAN|VARCHAR|JSON|DECIMAL\s*\(\s*\d+\s*,\s*\d+\s*\))\s*[)>]))"
    r"\s*\)",
    re.IGNORECASE,
)

_INT_BOUNDS = {
    "TINYINT": 2**7,
    "SMALLINT": 2**15,
    "INT": 2**31,
    "INTEGER": 2**31,
    "BIGINT": 2**63,
}


def _json_scalar_to_sql(v, t: str):
    """One JSON value → SQL literal text per Presto's JsonUtil
    currentTokenAs* coercions (float→half-up int, string→numeric parse,
    bool→1/0); None when not foldable."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    t = " ".join(t.split()).upper()
    if t == "JSON":
        # JSON-typed element: the value re-renders as compact canonical
        # JSON text (JsonUtil JSON_FACTORY has no spaces); a JSON null
        # element is the text 'null', not SQL NULL
        import json as _json

        return (
            "'"
            + _json.dumps(v, separators=(",", ":")).replace("'", "''")
            + "'"
        )
    if v is None:
        base = t if "(" in t or t != "INT" else "INT"
        return f"CAST(NULL AS {base})"
    if t in _INT_BOUNDS:
        if isinstance(v, bool):
            n = int(v)
        elif isinstance(v, int):
            n = v
        elif isinstance(v, float):
            n = math.floor(v + 0.5) if v >= 0 else math.ceil(v - 0.5)
        elif isinstance(v, str):
            try:
                n = int(v.strip())
            except ValueError:
                return None
        else:
            return None
        if not -_INT_BOUNDS[t] <= n < _INT_BOUNDS[t]:
            return None
        return f"CAST({n} AS {t})"
    if t in ("DOUBLE", "REAL"):
        if isinstance(v, bool):
            x = float(v)
        elif isinstance(v, (int, float)):
            x = float(v)
        elif isinstance(v, str):
            try:
                x = float(v.strip())
            except ValueError:
                return None
        else:
            return None
        return f"CAST('{x!r}' AS {t})"
    if t == "BOOLEAN":
        if isinstance(v, bool):
            return "true" if v else "false"
        if isinstance(v, (int, float)):
            return "true" if v != 0 else "false"
        if isinstance(v, str):
            s = v.strip().lower()
            if s in ("true", "t", "1"):
                return "true"
            if s in ("false", "f", "0"):
                return "false"
        return None
    if t == "VARCHAR":
        if isinstance(v, bool):
            return "'true'" if v else "'false'"
        if isinstance(v, int):
            return f"'{v}'"
        if isinstance(v, str):
            return "'" + v.replace("'", "''") + "'"
        if isinstance(v, float):
            # Java Double.toString rendering = Spark's double→string
            # cast (same pre-Ryu JDK algorithm); overflowed literals
            # normalize to the spellings Spark parses
            txt = (
                "Infinity" if v == float("inf")
                else "-Infinity" if v == float("-inf")
                else "NaN" if v != v
                else repr(v)
            )
            return f"CAST(CAST('{txt}' AS DOUBLE) AS STRING)"
        return None
    dm = re.match(r"DECIMAL\s*\(\s*(\d+)\s*,\s*(\d+)\s*\)", t)
    if dm:
        p, s = int(dm.group(1)), int(dm.group(2))
        try:
            if isinstance(v, bool):
                d = Decimal(int(v))
            elif isinstance(v, (int, str)):
                d = Decimal(str(v).strip())
            elif isinstance(v, float):
                d = Decimal(repr(v))
            else:
                return None
            q = d.quantize(Decimal(1).scaleb(-s), rounding=ROUND_HALF_UP)
        except Exception:  # noqa: BLE001 — unparsable: not foldable
            return None
        if len(q.as_tuple().digits) - s > p - s:
            return None  # integral overflow for (p, s)
        return f"CAST('{q}' AS DECIMAL({p},{s}))"
    return None


_DEC_OPERAND = (
    r"(?:DECIMAL\s*'(-?[\d.]+)'"
    r"|CAST\s*\(\s*'(-?[\d.]+)'\s+AS\s+DECIMAL\s*"
    r"\(\s*(\d+)\s*,\s*(\d+)\s*\)\s*\))"
)
_DEC_LIT_ARITH_RE = re.compile(
    rf"{_DEC_OPERAND}\s*([+\-*/])\s*{_DEC_OPERAND}",
    re.IGNORECASE,
)

_NEG_DEC_LIT_RE = re.compile(
    r"-\s*DECIMAL\s*'(-?[\d.]+)'", re.IGNORECASE
)
_UNARY_CTX_KW = frozenset(
    "select when then else and or not between in values case on where "
    "having by return union all distinct as".split()
)


def _fold_decimal_literal_negation(sql: str) -> str:
    """Unary ``-DECIMAL 'x'`` → ``DECIMAL '-x'`` (sign flips INTO the
    literal): negating a 38-digit literal through the arithmetic path
    re-folds via double and garbles the low digits (DO335-337,
    TestDecimalOperators). Binary minus (``a - DECIMAL '1'``) is left
    alone: only operator/keyword/start contexts are unary."""
    pos = 0
    while True:
        m = _find_outside(_NEG_DEC_LIT_RE, sql, pos)
        if m is None:
            return sql
        before = sql[: m.start()].rstrip()
        prev = before[-1:]
        unary = not prev or prev in "(,=<>+-*/%["
        if not unary and (prev.isalpha() or prev == "_"):
            w = re.search(r"[A-Za-z_]\w*$", before)
            unary = bool(w) and w.group(0).lower() in _UNARY_CTX_KW
        if not unary:
            pos = m.end()
            continue
        body = m.group(1)
        flipped = body[1:] if body.startswith("-") else "-" + body
        rep = f"DECIMAL '{flipped}'"
        sql = sql[: m.start()] + rep + sql[m.end() :]
        pos = m.start() + len(rep)


_INT_AFTER_DEC_RE = re.compile(
    r"(DECIMAL\s*'-?[\d.]+'\s*[+\-*/]\s*)(-?\d+)(?![\w.'])",
    re.IGNORECASE,
)
_INT_BEFORE_DEC_RE = re.compile(
    r"(?<![\w.'])(\d+)(\s*[+\-*/]\s*DECIMAL\s*')",
    re.IGNORECASE,
)


def _promote_int_literals_near_decimal(sql: str) -> str:
    """An integer literal adjacent to a DECIMAL literal through + - * /
    becomes ``DECIMAL 'n'`` so the literal fold below can keep Presto's
    exact result scale (DO701/DO706: ``DECIMAL '.19-digits' -
    bigint-literal`` keeps scale 19 where Spark's 38-cap drops a digit).
    Value-neutral: in mixed arithmetic Presto coerces the integer to
    decimal anyway, so retyping the literal never changes semantics —
    no precedence guard needed (the fold pass has its own)."""
    for pat, grp_rep in (
        (_INT_AFTER_DEC_RE, lambda m: f"{m.group(1)}DECIMAL '{m.group(2)}'"),
        (_INT_BEFORE_DEC_RE, lambda m: f"DECIMAL '{m.group(1)}'{m.group(2)}"),
    ):
        for _ in range(10):  # fixpoint: chains like D'a' - 5 + 3
            pos = 0
            changed = False
            while True:
                m = _find_outside(pat, sql, pos)
                if m is None:
                    break
                rep = grp_rep(m)
                sql = sql[: m.start()] + rep + sql[m.end() :]
                pos = m.start() + len(rep)
                changed = True
            if not changed:
                break
    return sql


def _dec_ps(txt: str) -> tuple[int, int]:
    digits = re.sub(r"[^0-9]", "", txt)
    frac = txt.split(".", 1)[1] if "." in txt else ""
    return max(len(digits), 1), len(frac)


def _fold_decimal_literal_arith(sql: str) -> str:
    """``DECIMAL 'a' <op> DECIMAL 'b'`` folds at rewrite time with
    Presto's SQL-standard result types (DecimalOperators: add/sub
    scale=max(s1,s2); mul s=s1+s2; div scale=max(s1,s2) rounded HALF_UP,
    DecimalOperators.java:317) — Spark reduces the scale (rounding) when
    the unbounded precision exceeds 38, Presto keeps the exact value as
    long as it fits. Results that don't fit 38 digits keep the original
    text (Presto raises there; so does Spark).

    A pair only folds when it is provably an isolated expression under
    SQL precedence/left-associativity: never when the left operand binds
    to a preceding operator that would regroup (``x - D'1' - D'2'`` is
    ``(x-1)-2``, not ``x-(1-2)``; ``a / D'2' * D'3'`` is ``(a/2)*3``),
    and never when a +/- pair is followed by a tighter-binding * / %
    (``D'1' + D'2' * x`` is ``1+(2*x)``)."""
    from decimal import Decimal, localcontext

    pos = 0
    while True:
        m = _DEC_LIT_ARITH_RE.search(sql, pos)
        if not m:
            return sql
        # each operand is DECIMAL 'x' (type from the literal text) or the
        # fold's own output CAST('x' AS DECIMAL(p,s)) (declared type) —
        # the latter lets folds chain and covers literal-cast division
        # (DO244: scale must be max(s1,s2), not Spark's adjusted scale)
        a_txt = m.group(1) if m.group(1) is not None else m.group(2)
        a_ps = (
            None
            if m.group(1) is not None
            else (int(m.group(3)), int(m.group(4)))
        )
        op = m.group(5)
        b_txt = m.group(6) if m.group(6) is not None else m.group(7)
        b_ps = (
            None
            if m.group(6) is not None
            else (int(m.group(8)), int(m.group(9)))
        )
        # precedence guards: inspect the nearest non-space neighbors
        prev = sql[: m.start()].rstrip()[-1:]
        nxt = sql[m.end() :].lstrip()[:1]
        unsafe_prev = "*/%" if op in "*/" else "-*/%"
        if prev in set(unsafe_prev):
            pos = m.start() + 1  # skip this pair, keep scanning
            continue
        if op in "+-" and nxt in ("*", "/", "%"):
            pos = m.start() + 1
            continue
        p1, s1 = a_ps if a_ps else _dec_ps(a_txt)
        p2, s2 = b_ps if b_ps else _dec_ps(b_txt)
        with localcontext() as ctx:
            ctx.prec = 100  # default 28 would round the 38-digit results
            a, b = Decimal(a_txt), Decimal(b_txt)
            if op == "+":
                res, s = a + b, max(s1, s2)
            elif op == "-":
                res, s = a - b, max(s1, s2)
            elif op == "*":
                res, s = a * b, s1 + s2
            else:
                # DecimalOperators.divide: result scale max(s1, s2),
                # rounded HALF_UP ('1' / '3.00' → 0.33)
                if b == 0:
                    return sql  # both engines raise
                from decimal import ROUND_HALF_UP

                s = max(s1, s2)
                res = (a / b).quantize(
                    Decimal(1).scaleb(-s), rounding=ROUND_HALF_UP
                )
            q = res.scaleb(s).to_integral_value()  # exact by construction
        ndig = len(str(abs(int(q))))
        if ndig > 38 or s > 38:
            return sql  # overflow: both engines raise — leave as-is
        p = max(ndig, s, 1)
        sign = "-" if q < 0 else ""
        body = str(abs(int(q))).rjust(s + 1, "0")
        text = (
            f"{sign}{body[:-s]}.{body[-s:]}" if s else f"{sign}{body}"
        )
        rep = f"CAST('{text}' AS DECIMAL({p},{s}))"
        sql = sql[: m.start()] + rep + sql[m.end() :]
        pos = m.start()


_NUM_INT_CAST_RE = re.compile(
    r"\b(TRY_)?CAST\s*\(\s*"
    r"(DECIMAL\s*'-?[\d.]+'|REAL\s*'-?[\d.]+(?:[eE][+-]?\d+)?'"
    r"|-?\d+\.\d+)\s+AS\s+(TINYINT|SMALLINT|INTEGER|INT|BIGINT)\s*\)",
    re.IGNORECASE,
)

_REAL_DEC_CAST_RE = re.compile(
    r"\b(TRY_)?CAST\s*\(\s*REAL\s*'(-?[\d.]+(?:[eE][+-]?\d+)?)'\s+AS\s+"
    r"DECIMAL\s*\(\s*(\d+)\s*,\s*(\d+)\s*\)\s*\)",
    re.IGNORECASE,
)


def _fold_numeric_literal_casts(sql: str) -> str:
    """Literal numeric → integer/decimal casts fold with Presto's
    rounding: DECIMAL/REAL/plain-decimal literals to integer types round
    HALF_UP (DecimalCasts/MathFunctions; Spark truncates), and REAL to
    DECIMAL goes through the float's SHORTEST decimal rendering
    (DecimalCasts.realToLongDecimal uses String.valueOf(float))."""
    from decimal import ROUND_HALF_UP, Decimal, localcontext

    mask = _literal_mask(sql)

    def int_sub(m: re.Match) -> str:
        if mask[m.start()]:
            return m.group(0)
        is_try, lit, t = m.group(1) or "", m.group(2), m.group(3).upper()
        with localcontext() as ctx:
            ctx.prec = 100
            lm = re.match(r"(?is)(DECIMAL|REAL)\s*'(.*)'", lit)
            if lm and lm.group(1).upper() == "REAL":
                import numpy as _np

                try:
                    d = Decimal(repr(float(_np.float32(lm.group(2)))))
                except (ValueError, OverflowError):
                    return m.group(0)
            elif lm:
                d = Decimal(lm.group(2).strip())
            else:
                d = Decimal(lit)
            n = int(d.quantize(Decimal(1), rounding=ROUND_HALF_UP))
        bound = {
            "TINYINT": 2**7, "SMALLINT": 2**15,
            "INT": 2**31, "INTEGER": 2**31, "BIGINT": 2**63,
        }[t]
        if not -bound <= n < bound:
            return m.group(0)  # overflow: both engines raise — leave
        return f"{m.group(1) or ''}CAST({n} AS {t})"

    sql = _NUM_INT_CAST_RE.sub(int_sub, sql)
    mask = _literal_mask(sql)

    def dec_sub(m: re.Match) -> str:
        if mask[m.start()]:
            return m.group(0)
        # DecimalCasts.realToLongDecimal parses String.valueOf(float) —
        # Spark's float→string cast IS Java Float.toString, so route
        # through it (string→decimal then rounds HALF_UP like Presto)
        p, s = int(m.group(3)), int(m.group(4))
        kw = m.group(1) or ""
        return (
            f"{kw}CAST(CAST(CAST('{m.group(2)}' AS FLOAT) AS STRING) "
            f"AS DECIMAL({p},{s}))"
        )

    return _REAL_DEC_CAST_RE.sub(dec_sub, sql)


def _fold_row_of_json_cast(sql: str) -> str:
    """``CAST(row(json 'a', json 'b', …) AS ROW(…))`` — a row of JSON
    literals casting to a typed row coerces per field
    (RowToRowCast/JsonOperators). Fold the constructor into the
    equivalent positional JSON ARRAY literal so the JSON→ROW lowering
    (get_json_object field builder) handles it. Must run BEFORE
    _fold_json_literal_casts strips the JSON markers."""
    i = 0
    pat = re.compile(r"\b(?:TRY_)?CAST\s*\(\s*row\s*\(", re.IGNORECASE)
    while True:
        m = pat.search(sql, i)
        if not m:
            return sql
        row_open = sql.rindex("(", m.start(), m.end())
        j1 = _scan(sql).close(row_open + 1)
        args = _scan(sql[row_open + 1 : j1 - 1]).items()
        lits = []
        for a in args:
            am = re.fullmatch(r"(?is)\s*JSON\s*'((?:[^']|'')*)'\s*", a)
            if not am:
                lits = None
                break
            lits.append(am.group(1).replace("''", "'"))
        rest = sql[j1:]
        rm = re.match(r"\s+AS\s+ROW\s*\(", rest, re.IGNORECASE)
        if lits is None or rm is None:
            i = m.end()
            continue
        json_text = "[" + ",".join(lits) + "]"
        repl = "JSON '" + json_text.replace("'", "''") + "'"
        head = sql[:row_open].rstrip()
        if not head.lower().endswith("row"):
            i = m.end()
            continue
        sql = head[:-3] + repl + rest
        i = m.start() + 1


def _fold_json_literal_casts(sql: str) -> str:
    """``CAST(JSON '<literal>' AS <scalar|array-of-scalar>)`` folds at
    rewrite time per JsonOperators/JsonUtil coercions — Spark's
    from_json/string casts reject the cross-type coercions Presto
    defines (true→1, '128.9'→129 half-up, "3.14"→3.14). Non-foldable
    shapes keep the original text (TRY_ forms fold to NULL)."""
    import json as _json

    def sub(m: re.Match) -> str:
        is_try, lit, t = m.group(1), m.group(2), m.group(3)
        try:
            v = _json.loads(lit[1:-1].replace("''", "'"))
        except ValueError:
            return m.group(0)
        am = re.match(r"(?is)ARRAY\s*[(<]\s*(.+?)\s*[)>]$", t.strip())
        if am:
            if v is None:
                inner = _presto_type_to_spark(f"ARRAY({am.group(1)})")
                return f"CAST(NULL AS {inner})" if inner else m.group(0)
            if not isinstance(v, list):
                folded = None
            else:
                elems = [_json_scalar_to_sql(e, am.group(1)) for e in v]
                folded = (
                    f"array({', '.join(elems)})"
                    if all(e is not None for e in elems)
                    else None
                )
                if isinstance(v, list) and not v:
                    inner = _presto_type_to_spark(f"ARRAY({am.group(1)})")
                    folded = f"CAST(array() AS {inner})" if inner else None
        else:
            folded = _json_scalar_to_sql(v, t)
        if folded is not None:
            return folded
        if is_try:
            base = re.sub(r"(?is)^ARRAY\s*[(<]\s*(.+?)\s*[)>]$", r"ARRAY<\1>", t)
            return f"CAST(NULL AS {base})"
        return m.group(0)

    return _JSON_LIT_CAST_RE.sub(sub, sql)


def _rewrite_to_iso8601_date(sql: str) -> str:
    """``to_iso8601`` with a syntactically DATE-typed argument renders
    date-only (DateTimeFunctions.java toISO8601FromDate,
    createVarcharType(16) — '2001-08-22'); the TIMESTAMP overload keeps
    the temp-function full rendering. __spark_date_format sentinel: the
    pattern is java-style, not MySQL."""

    def build(args):
        if len(args) != 1:
            return None
        a = args[0].strip()
        if re.match(r"(?i)^DATE\s*'", a) or re.search(
            r"(?i)\bAS\s+DATE\s*\)\s*$", a
        ):
            return f"__spark_date_format({a}, 'yyyy-MM-dd')"
        return None

    return _replace_fn_calls(sql, "to_iso8601", build)


_FLOAT_MOD_LIT_RE = re.compile(
    r"(?i)\b(REAL|DOUBLE)\s*'(-?[\d.]+(?:E-?\d+)?|NaN|-?Infinity)'\s*%\s*"
    r"(REAL|DOUBLE)\s*'(-?[\d.]+(?:E-?\d+)?|NaN|-?Infinity)'"
)


def _rewrite_float_mod_literals(sql: str) -> str:
    """Typed-literal float ``%``: Presto is IEEE fmod (x % 0 = NaN,
    RealOperators.modulus); ANSI Spark raises REMAINDER_BY_ZERO even
    for floats, so literal forms fold at rewrite time (non-literal
    float %-by-zero remains the documented ANSI-error deviation)."""

    def fold(m: re.Match) -> str:
        import struct

        def f32(v: float) -> float:
            return struct.unpack("f", struct.pack("f", v))[0]

        t1, x, t2, y = m.groups()
        both_real = t1.upper() == "REAL" and t2.upper() == "REAL"
        out_t = "FLOAT" if both_real else "DOUBLE"
        a, b = float(x), float(y)
        if both_real:  # Java float % float computes in float32
            a, b = f32(a), f32(b)
        # Java: non-finite dividend % anything = NaN, % 0 / % NaN = NaN;
        # Python math.fmod(inf, y) raises instead, so guard both sides
        v = (
            math.fmod(a, b)
            if a == a and abs(a) != math.inf and b == b and b != 0
            else float("nan")
        )
        if both_real:
            v = f32(v)
        if v != v:
            return f"CAST('NaN' AS {out_t})"
        if v in (float("inf"), float("-inf")):
            return f"CAST('{'-' if v < 0 else ''}Infinity' AS {out_t})"
        return f"CAST('{v!r}' AS {out_t})"

    return _FLOAT_MOD_LIT_RE.sub(fold, sql)


def _rewrite_scalar_compat_misc(sql: str) -> str:
    """Scalar-surface deviations flushed by the assert corpus (round 8):

    - ``flatten`` skips NULL sub-arrays (ArrayFlattenFunction appends
      only non-null elements); Spark's returns NULL for the whole result
    - ``typeof`` base-name spellings (integer/varchar/unknown/real)
    - ``from_base``/``to_base`` inline (SQL temp-function bodies cannot
      capture lambda variables, and conv() needs the signed wrapper)
    - 2-arg ``truncate(decimal, n)`` with a literal n → sign-split
      floor/ceil over exact power-of-ten scaling
    - anonymous ``row(...).fieldN`` → Spark's ``.col{N+1}`` (RowType
      names anonymous fields field0..; Spark names them col1..)

    Marker-then-inline where the inline body contains the source name
    (see _replace_fn_calls: a builder may never emit a same-name call).
    """
    # bare-NULL argument typing: Presto types NULL per the signature and
    # RETURN_NULL_ON_NULL yields NULL; Spark rejects the VOID argument.
    # The CASE-with-typed-ELSE trick derives the result type from the
    # call over the non-NULL (or emptied) arguments.
    def _is_bare_null(a: str) -> bool:
        return bool(re.fullmatch(r"(?is)\s*NULL\s*", a))

    def concat_null(a):
        if len(a) >= 2 and any(_is_bare_null(x) for x in a) and any(
            re.match(r"(?is)^\s*(array\s*[\[(])", x) for x in a
        ):
            rest = [x for x in a if not _is_bare_null(x)]
            return (
                f"CASE WHEN true THEN NULL "
                f"ELSE concat({', '.join(rest)}) END"
            )
        return None

    sql = _replace_fn_calls(sql, "concat", concat_null)

    def map_concat_null(a):
        if len(a) >= 2 and any(_is_bare_null(x) for x in a):
            rest = [x for x in a if not _is_bare_null(x)]
            if rest:
                return (
                    f"CASE WHEN true THEN NULL "
                    f"ELSE map_concat({', '.join(rest)}) END"
                )
        return None

    sql = _replace_fn_calls(sql, "map_concat", map_concat_null)

    def except_null(a):
        if len(a) == 2 and any(_is_bare_null(x) for x in a):
            fixed = ["array()" if _is_bare_null(x) else x for x in a]
            return (
                f"CASE WHEN true THEN NULL "
                f"ELSE array_except({', '.join(fixed)}) END"
            )
        return None

    sql = _replace_fn_calls(sql, "array_except", except_null)

    def position_null(a):
        if len(a) == 2 and _is_bare_null(a[1]):
            return "CAST(NULL AS BIGINT)"
        return None

    sql = _replace_fn_calls(sql, "array_position", position_null)

    sql = _replace_fn_calls(
        sql,
        "map_from_entries",
        lambda a: "CAST(NULL AS MAP<STRING,STRING>)"
        if len(a) == 1 and _is_bare_null(a[0])
        else None,
    )
    # CASE WHEN null THEN …: Presto types the bare NULL condition
    # boolean; Spark rejects the VOID literal. Anchored on CASE so a
    # simple-CASE ``CASE x WHEN NULL`` (value comparison) stays intact.
    sql = _apply_outside_literals(
        sql,
        lambda c: re.sub(
            r"(?i)\bCASE\s+WHEN\s+NULL\s+THEN\b",
            "CASE WHEN CAST(NULL AS BOOLEAN) THEN",
            c,
        ),
    )
    # flatten: marker, then inline with the null-filter
    sql = _replace_fn_calls(
        sql, "flatten", lambda a: f"__pflat({a[0]})" if len(a) == 1 else None
    )
    sql = _replace_fn_calls(
        sql,
        "__pflat",
        lambda a: f"flatten(filter({a[0]}, __fe -> __fe IS NOT NULL))",
    )
    # typeof: literal folds (TypeOfFunction returns the DECLARED type —
    # 'cat' is varchar(3), CAST(NULL AS T) is T in Presto spelling),
    # then marker + inline name-mapping with a parameterized-name
    # conversion chain (array<int> → array(integer)) in the ELSE arm
    def typeof_build(a):
        if len(a) != 1:
            return None
        arg = a[0].strip()
        mm = re.fullmatch(r"'((?:[^']|'')*)'", arg)
        if mm:
            n = len(mm.group(1).replace("''", "'"))
            return f"'varchar({n})'"
        mm = re.fullmatch(r"(?is)CAST\s*\(\s*NULL\s+AS\s+(.+)\)", arg)
        if mm and re.fullmatch(r"[A-Za-z0-9_(),\s]+", mm.group(1).strip()):
            tt = re.sub(r"\s+", "", mm.group(1)).lower()
            tt = re.sub(r"\bint\b", "integer", tt)
            # Presto spells default decimal precision/scale explicitly
            # (TypeOfFunction: DECIMAL → decimal(38,0), DECIMAL(p) →
            # decimal(p,0); pinned TOF39/40).
            tt = re.sub(r"\bdecimal\((\d+)\)", r"decimal(\1,0)", tt)
            tt = re.sub(r"\bdecimal\b(?!\()", "decimal(38,0)", tt)
            return f"'{tt}'"
        return f"__ptypeof({arg})"

    sql = _replace_fn_calls(sql, "typeof", typeof_build)
    whens = " ".join(
        f"WHEN '{s}' THEN '{p}'" for s, p in _TYPEOF_NAME_MAP
    )

    def ptypeof_inline(a):
        chain = f"typeof({a[0]})"
        for pat, rep in (
            ("<", "("),
            (">", ")"),
            # SQL-literal spelling: Spark unescapes '\\b' to the regex \b
            (r"\\bint\\b", "integer"),
            (r"\\bstring\\b", "varchar"),
            (r"\\bfloat\\b", "real"),
            (r"\\bbinary\\b", "varbinary"),
        ):
            chain = f"regexp_replace({chain}, '{pat}', '{rep}')"
        return f"CASE typeof({a[0]}) {whens} ELSE {chain} END"

    sql = _replace_fn_calls(sql, "__ptypeof", ptypeof_inline)

    # array_min/array_max: Presto returns NaN when ANY element is NaN
    # (even alongside NULLs — TestArrayOperators:605-639, the comparison
    # never dislodges NaN), else NULL on a NULL element
    # (AbstractArrayMinMaxFunction RETURN_NULL_ON_NULL); Spark skips
    # nulls and orders NaN greatest. The NaN probe must ANALYZE for
    # every element type (isnan() rejects boolean/array/...), so it is
    # spelled CAST-to-string + typeof-gate, both total functions.
    # Marker two-pass: a builder may never emit its own name.
    _NANP = (
        "(CAST({e} AS STRING) = 'NaN' AND "
        "typeof({e}) IN ('double', 'float'))"
    )

    def arr_extreme(marker):
        def build(a):
            if len(a) != 1:
                return None
            x = a[0].strip()
            nanp = _NANP.format(e="__ae")
            return (
                f"CASE WHEN exists(({x}), __ae -> {nanp}) "
                f"THEN filter(({x}), __ae -> {nanp})[0] "
                f"WHEN exists(({x}), __ae -> __ae IS NULL) THEN NULL "
                f"ELSE {marker}(({x})) END"
            )

        return build

    sql = _replace_fn_calls(sql, "array_min", arr_extreme("__pamin"))
    sql = _replace_fn_calls(sql, "array_max", arr_extreme("__pamax"))
    sql = _replace_fn_calls(sql, "__pamin", lambda a: f"array_min({a[0]})")
    sql = _replace_fn_calls(sql, "__pamax", lambda a: f"array_max({a[0]})")

    # array_remove: Presto removes via the EQUAL operator, under which
    # NaN = NaN is FALSE (TestArrayOperators:1467-1468 — removing nan()
    # removes nothing); Spark's equality treats NaN as equal to itself.
    # Keep an element when it is NULL, NaN, or not Spark-equal to the
    # target.
    def arr_remove(a):
        if len(a) != 2:
            return None
        x, t = a[0].strip(), a[1].strip()
        nanp = _NANP.format(e="__ar")
        return (
            f"CASE WHEN ({t}) IS NULL THEN NULL "
            f"ELSE filter(({x}), __ar -> __ar IS NULL OR {nanp} "
            f"OR NOT (__ar = ({t}))) END"
        )

    sql = _replace_fn_calls(sql, "array_remove", arr_remove)

    # to_milliseconds over the parse_duration interval model (Presto:
    # to_milliseconds(INTERVAL DAY TO SECOND), TestDateTimeFunctionsBase
    # .java:1117-1121) routes to the DOUBLE-millis shim; the bare
    # TIMESTAMP spelling keeps the epoch-millis temp fn (golden
    # datetime_iso_duration).
    sql = _replace_fn_calls(
        sql,
        "to_milliseconds",
        lambda a: f"__to_millis_dur({a[0]})"
        if len(a) == 1 and re.search(r"(?i)\bparse_duration\s*\(", a[0])
        else None,
    )

    # multimap_from_entries over a literal tuple array: inline the
    # grouping expression so key/value types are PRESERVED (the generic
    # temp-fn shim is monomorphic string-typed). Entry-struct field
    # names vary (constructor tuples are col1/col2, named_struct rows
    # are user-named, map_entries yields key/value) — extract
    # POSITIONALLY by building a one-entry map from each struct
    # (map_from_entries is positional over any 2-field struct).
    def multimap_fe(a):
        if len(a) != 1:
            return None
        e = a[0].strip()
        if re.fullmatch(r"(?is)array\s*[\[(]\s*[\])]", e):
            # multimap_from_entries(ARRAY[]) → {} (pinned MO894)
            return "map()"
        if re.match(r"(?is)^\s*array\s*[\[(]", e):
            norm = (
                f"transform(({e}), __mfe -> named_struct("
                f"'k', map_keys(map_from_entries(array(__mfe)))[0], "
                f"'v', map_values(map_from_entries(array(__mfe)))[0]))"
            )
            keys = f"array_distinct(transform({norm}, __mfa -> __mfa.k))"
            return (
                f"map_from_arrays({keys}, transform({keys}, __mfk -> "
                f"transform(filter({norm}, __mfe2 -> __mfe2.k <=> __mfk),"
                f" __mfe3 -> __mfe3.v)))"
            )
        return None

    sql = _replace_fn_calls(sql, "multimap_from_entries", multimap_fe)

    # json_array_contains dispatches on the PROBE's SQL type
    # (JsonFunctions.java overloads: a long probe matches only integer
    # JSON tokens — '[1.0]' ∌ 1; a double probe only float tokens —
    # '[1]' ∌ 1.0; string/boolean likewise never cross-match, JF78-157).
    # The generic temp fn compares through strings and cannot see token
    # types, so literal probes lower to a variant-typed exists() here;
    # non-literal probes keep the documented string-based shim.
    def jac(a):
        if len(a) != 2:
            return None
        js, v = a[0].strip(), a[1].strip()
        if re.fullmatch(r"(?i)null", v):
            return "CAST(NULL AS BOOLEAN)"
        if re.fullmatch(r"(?i)true|false", v):
            gate = (
                "schema_of_variant(__je) = 'BOOLEAN' "
                f"AND CAST(__je AS BOOLEAN) = {v}"
            )
        elif re.fullmatch(r"-?\d+", v):
            gate = (
                "schema_of_variant(__je) = 'BIGINT' "
                f"AND CAST(__je AS BIGINT) = {v}"
            )
        elif re.fullmatch(r"-?(?:\d*\.\d+|\d+)(?:[eE][+-]?\d+)?", v):
            gate = (
                "(schema_of_variant(__je) IN ('DOUBLE', 'FLOAT') OR "
                "startswith(schema_of_variant(__je), 'DECIMAL')) AND "
                f"CAST(__je AS DOUBLE) = CAST(({v}) AS DOUBLE)"
            )
        elif re.fullmatch(r"'(?:[^']|'')*'", v):
            gate = (
                "schema_of_variant(__je) = 'STRING' "
                f"AND CAST(__je AS STRING) = ({v})"
            )
        else:
            return None
        return (
            f"exists(from_json(({js}), 'array<variant>'), "
            f"__je -> coalesce({gate}, false))"
        )

    sql = _replace_fn_calls(sql, "json_array_contains", jac)

    # map_from_entries(ARRAY[]) → {} (pinned MO848; Spark types a bare
    # array() as array<string> and rejects it as an entries array)
    sql = _replace_fn_calls(
        sql,
        "map_from_entries",
        lambda a: "map()"
        if len(a) == 1 and re.fullmatch(r"(?is)array\s*[\[(]\s*[\])]", a[0].strip())
        else None,
    )

    # array_intersect iterates the LONGER array in order
    # (ArrayIntersectFunction.java:46-74 swaps so the set is built from
    # the shorter side); Spark always iterates the left — swap when
    # the left is shorter. Marker two-pass (same-name emission).
    def arr_intersect(a):
        if len(a) != 2:
            return None
        x, y = a[0].strip(), a[1].strip()
        return (
            f"CASE WHEN size(({x})) < size(({y})) "
            f"THEN __paix(({y}), ({x})) ELSE __paix(({x}), ({y})) END"
        )

    sql = _replace_fn_calls(sql, "array_intersect", arr_intersect)
    sql = _replace_fn_calls(
        sql, "__paix", lambda a: f"array_intersect({a[0]}, {a[1]})"
    )

    def from_base(a):
        if len(a) != 2:
            return None
        s, b = a[0].strip(), a[1].strip()
        return (
            f"CASE WHEN ({s}) LIKE '-%' THEN "
            f"CAST(-CAST(conv(substr(({s}), 2), {b}, 10) AS DECIMAL(20,0)) "
            f"AS BIGINT) ELSE CAST(conv(({s}), {b}, 10) AS BIGINT) END"
        )

    sql = _replace_fn_calls(sql, "from_base", from_base)

    def to_base(a):
        if len(a) != 2:
            return None
        x, b = a[0].strip(), a[1].strip()
        return (
            f"CASE WHEN ({x}) < 0 THEN concat('-', lower(conv("
            f"CAST(-CAST(({x}) AS DECIMAL(20,0)) AS STRING), 10, {b}))) "
            f"ELSE lower(conv(CAST(({x}) AS STRING), 10, {b})) END"
        )

    sql = _replace_fn_calls(sql, "to_base", to_base)

    def truncate2(a):
        # 2-arg truncate(x, n) is Presto's DECIMAL overload
        # (MathFunctions.java truncate(decimal, bigint)); a literal n
        # scales by an exact integer power of ten so decimal arithmetic
        # stays exact. 1-arg over a DECIMAL literal folds to the exact
        # integral part (type decimal(p-s, 0)); other 1-arg forms keep
        # the truncate_num rename. Non-literal n is not provable —
        # left to error (documented).
        if len(a) == 1:
            dm = re.fullmatch(
                r"(?is)DECIMAL\s*'(-?[\d.]+)'", a[0].strip()
            )
            if dm:
                from decimal import Decimal

                txt = dm.group(1)
                p, s = _dec_ps(txt)
                ip = int(Decimal(txt))  # truncates toward zero
                return f"CAST('{ip}' AS DECIMAL({max(p - s, 1)},0))"
            return None
        if len(a) != 2:
            return None
        x, n_txt = a[0].strip(), a[1].strip()
        if re.fullmatch(r"(?i)NULL", n_txt) or re.fullmatch(
            r"(?i)NULL", x
        ):
            # truncate(NULL, NULL) → NULL decimal (RETURN_NULL_ON_NULL)
            return "CAST(NULL AS DECIMAL(1,0))"
        if not re.fullmatch(r"-?\d+", n_txt):
            return None
        n = int(n_txt)
        p = 10 ** abs(n)
        if n >= 0:
            up, down = f"({x}) * {p}", str(p)
            return (
                f"CASE WHEN ({x}) >= 0 THEN floor({up}) / {down} "
                f"ELSE ceil({up}) / {down} END"
            )
        return (
            f"CASE WHEN ({x}) >= 0 THEN floor(({x}) / {p}) * {p} "
            f"ELSE ceil(({x}) / {p}) * {p} END"
        )

    sql = _replace_fn_calls(sql, "truncate", truncate2)

    # ngrams(arr, n) type-preserving (ArrayNgramsFunction returns
    # array(array(T))): slice windows over the original array — the
    # array_ngrams shim's ARRAY<STRING> signature coerced elements.
    # n > size yields one whole-array gram, like Presto.
    def ngrams_inline(a):
        if len(a) != 2:
            return None
        arr, n = a[0].strip(), a[1].strip()
        return (
            f"transform(sequence(1, greatest(size({arr}) - ({n}) + 1, 1)), "
            f"__ng -> slice({arr}, __ng, least({n}, size({arr}))))"
        )

    sql = _replace_fn_calls(sql, "ngrams", ngrams_inline)

    # cosine_similarity over SPARSE MAPS — the reference's actual
    # signature (MathFunctions.java cosineSimilarity(map<varchar,
    # double>, map<varchar,double>)); the registered array form is the
    # beyond-parity embeddings variant. Textually-provable map operands
    # (map constructors / NULL) lower to aggregate expressions; a NULL
    # value inside either map propagates NULL like Presto.
    def cos_sim_map(a):
        if len(a) != 2:
            return None
        x, y = a[0].strip(), a[1].strip()

        def mapish(e):
            return re.match(r"(?is)^(map\s*\(|null$)", e)

        if not (mapish(x) or mapish(y)):
            return None

        def fix(e):
            return (
                "CAST(NULL AS MAP<STRING,DOUBLE>)"
                if e.upper() == "NULL"
                else e
            )

        x, y = fix(x), fix(y)
        dot = (
            f"aggregate(map_keys({x}), 0.0E0, (__ca, __ck) -> __ca + "
            f"CASE WHEN map_contains_key({y}, __ck) THEN "
            f"try_element_at({x}, __ck) * try_element_at({y}, __ck) "
            f"ELSE 0.0E0 END)"
        )
        na = (
            f"sqrt(aggregate(map_values({x}), 0.0E0, "
            f"(__ca, __cv) -> __ca + __cv * __cv))"
        )
        nb = (
            f"sqrt(aggregate(map_values({y}), 0.0E0, "
            f"(__ca, __cv) -> __ca + __cv * __cv))"
        )
        return f"({dot} / ({na} * {nb}))"

    sql = _replace_fn_calls(sql, "cosine_similarity", cos_sim_map)

    # width_bucket(x, bins array) — Presto's 2-arg overload
    # (MathFunctions.java widthBucket(operand, bins)): the bucket index
    # is the count of bin boundaries <= x (bins sorted ascending)
    def width_bucket2(a):
        if len(a) == 2:
            x, bins = a[0].strip(), a[1].strip()
            # NULL-propagate: with x NULL the lambda is NULL for every
            # bin, filter drops all, and size() would return 0 where
            # Presto returns NULL (same for a NULL bins argument)
            return (
                f"CASE WHEN ({x}) IS NULL OR ({bins}) IS NULL THEN NULL "
                f"ELSE size(filter({bins}, __wb -> __wb <= ({x}))) END"
            )
        return None

    sql = _replace_fn_calls(sql, "width_bucket", width_bucket2)

    # bare DECIMAL cast target: Presto defaults to decimal(38,0)
    # (DecimalType.createDecimalType()); Spark defaults to (10,0)
    sql = re.sub(
        r"(?i)\bAS\s+DECIMAL\s*\)", "AS DECIMAL(38,0))", sql
    )
    # bare CHAR cast target: Presto defaults to char(1)
    # (CharType.createCharType default); ANSI SQL 'double precision'
    # target spelling → Spark's DOUBLE
    sql = re.sub(r"(?i)\bAS\s+CHAR\s*\)", "AS CHAR(1))", sql)
    sql = re.sub(
        r"(?i)\bAS\s+DOUBLE\s+PRECISION\s*\)", "AS DOUBLE)", sql
    )

    # CAST(e AS VARCHAR(n)) truncates to n code points in Presto
    # (CharacterStringCasts.varcharToVarcharCast truncateToLength);
    # Spark's VARCHAR(n) cast keeps the full string in query context
    def varchar_n(args):
        if len(args) != 1:
            return None
        am = re.search(
            r"(?is)\s+AS\s+VARCHAR\s*\(\s*(\d+)\s*\)\s*$", args[0]
        )
        if am is None:
            return None
        expr = args[0][: am.start()]
        return f"substr(CAST({expr} AS STRING), 1, {am.group(1)})"

    sql = _replace_fn_calls(sql, "cast", varchar_n)
    sql = _replace_fn_calls(sql, "try_cast", varchar_n)

    # greatest/least: Presto 0.216 returns NULL when ANY argument is
    # NULL (AbstractGreatestLeast codegen null-propagates) and accepts a
    # single argument; Spark ignores NULLs and requires >= 2 args.
    # Marker-then-inline (same-name rescan rule).
    def _gl(marker):
        def build(args):
            if len(args) == 1:
                return f"({args[0]})"
            nulls = " OR ".join(f"({a.strip()}) IS NULL" for a in args)
            return (
                f"CASE WHEN {nulls} THEN NULL "
                f"ELSE {marker}({', '.join(args)}) END"
            )

        return build

    sql = _replace_fn_calls(sql, "greatest", _gl("__pgreatest"))
    sql = _replace_fn_calls(
        sql, "__pgreatest", lambda a: f"greatest({', '.join(a)})"
    )
    sql = _replace_fn_calls(sql, "least", _gl("__pleast"))
    sql = _replace_fn_calls(
        sql, "__pleast", lambda a: f"least({', '.join(a)})"
    )

    # extract(field FROM INTERVAL 'n' UNIT): Presto normalizes a
    # single-unit interval into day-time (or year-month) fields and
    # extracts the component (IntervalDayTime/IntervalYearMonth
    # operators); Spark rejects cross-unit extraction. Literal forms
    # fold at rewrite time.
    def _fold_interval_extract(m: re.Match) -> str:
        field, n, unit = m.group(1).lower(), int(m.group(2)), m.group(3).lower()
        day_secs = {"second": 1, "minute": 60, "hour": 3600, "day": 86400}
        if unit in day_secs and field in ("second", "minute", "hour", "day"):
            total = n * day_secs[unit]
            sign = -1 if total < 0 else 1
            t = abs(total)
            v = {
                "second": t % 60,
                "minute": (t // 60) % 60,
                "hour": (t // 3600) % 24,
                "day": t // 86400,
            }[field]
            return str(sign * v)
        months = {"month": 1, "year": 12}
        if unit in months and field in ("month", "year"):
            total = n * months[unit]
            sign = -1 if total < 0 else 1
            t = abs(total)
            v = {"month": t % 12, "year": t // 12}[field]
            return str(sign * v)
        return m.group(0)

    sql = re.sub(
        r"(?i)\bextract\s*\(\s*(second|minute|hour|day|month|year)\s+FROM\s+"
        r"INTERVAL\s*'(-?\d+)'\s+(second|minute|hour|day|month|year)\s*\)",
        _fold_interval_extract,
        sql,
    )

    # field-function spelling over literal day-time intervals:
    # millisecond/second/minute/hour/day(INTERVAL 'n[.fff]' UNIT) —
    # DateTimeFunctions.java millisecondFromInterval:747 …
    # hourFromInterval:895 (ms%1000, s%60, m%60, h%24, total days);
    # Spark has no interval overloads for these, literal forms fold.
    def _fold_interval_field(m: re.Match) -> str:
        from decimal import Decimal as _D

        field, n, unit = (
            m.group(1).lower(), _D(m.group(2)), m.group(3).lower()
        )
        unit_ms = {
            "second": 1000, "minute": 60_000, "hour": 3_600_000,
            "day": 86_400_000,
        }[unit]
        total = int(n * unit_ms)
        sign = -1 if total < 0 else 1
        t = abs(total)
        v = {
            "millisecond": t % 1000,
            "second": (t // 1000) % 60,
            "minute": (t // 60_000) % 60,
            "hour": (t // 3_600_000) % 24,
            "day": t // 86_400_000,
        }[field]
        return f"CAST({sign * v} AS BIGINT)"

    sql = re.sub(
        r"(?i)\b(millisecond|second|minute|hour|day)\s*\(\s*"
        r"INTERVAL\s*'(-?\d+(?:\.\d+)?)'\s+"
        r"(second|minute|hour|day)\s*\)",
        _fold_interval_field,
        sql,
    )
    def _fold_interval_field_ym(m: re.Match) -> str:
        field, n, unit = (
            m.group(1).lower(), int(m.group(2)), m.group(3).lower()
        )
        total = n * (1 if unit == "month" else 12)
        sign = -1 if total < 0 else 1
        t = abs(total)
        v = {"month": t % 12, "year": t // 12}[field]
        return f"CAST({sign * v} AS BIGINT)"

    sql = re.sub(
        r"(?i)\b(month|year)\s*\(\s*INTERVAL\s*'(-?\d+)'\s+"
        r"(month|year)\s*\)",
        _fold_interval_field_ym,
        sql,
    )
    # CAST(TIMESTAMP 'lit' AS VARCHAR): Presto renders timestamps with
    # exactly three fractional digits ('… 03:04:05.000'); Spark's cast
    # drops the fraction when zero. Literal operands are provably
    # timestamp; columns aren't (documented).
    sql = re.sub(
        r"(?i)\b(?:TRY_)?CAST\s*\(\s*(TIMESTAMP\s*'[^']*')\s+AS\s+"
        r"VARCHAR\s*\)",
        r"__spark_date_format(\1, 'yyyy-MM-dd HH:mm:ss.SSS')",
        sql,
    )
    # row(...).fieldN → row(...).col{N+1}
    i = 0
    while True:
        mask = _literal_mask(sql)
        m = _ROW_FIELD_RE.search(sql, i)
        if not m:
            break
        if mask[m.start()]:
            i = m.end()
            continue
        j = _scan(sql).close(m.end())
        fm = re.match(r"\.field(\d+)\b", sql[j:])
        if fm is None:
            i = m.end()
            continue
        sql = (
            sql[:j] + f".col{int(fm.group(1)) + 1}" + sql[j + fm.end() :]
        )
        i = m.end()
    # general unnamed-row ordinal access after any call/subscript close
    # (legacy row field ordinal access, RowType): `).field1`,
    # `]."field1"`, chained `.field1[2].field0` — every engine-built
    # unnamed struct is named col1.. (constructor AND cast/from_json)
    return _apply_outside_literals(
        sql,
        lambda c: re.sub(
            r'(?<=[)\]])\.\s*("?)field(\d+)\1(?!\w)',
            lambda mm: f".col{int(mm.group(2)) + 1}",
            c,
        ),
    )


def _rewrite_literal_backslashes(sql: str) -> str:
    """Presto string literals are VERBATIM (SqlBase.g4 STRING: the only
    escape is the doubled quote); Spark's parser processes C-style
    backslash escapes, so ``'\\t'`` silently becomes a TAB and a literal
    ending in ``\\`` swallows its closing quote (``\\'`` = escaped
    quote), shifting the literal boundary. Double every backslash inside
    every single-quoted literal so Spark reads exactly Presto's bytes.

    MUST run FIRST in rewrite(): literals emitted by later passes (the
    Java-whitespace trim regex, datetime patterns) intentionally use
    Spark escape processing and must not be doubled."""
    if "\\" not in sql:
        return sql
    return _splice(sql, [
        (a, b, sql[a:b].replace("\\", "\\\\")) for a, b in _scan(sql).spans
    ])


# U+001E (record separator) — a char that never appears in patterns;
# making it the LIKE escape disables escaping, which is Presto's default
# (LikeUtils: no escape char unless ESCAPE is given; Spark defaults to
# backslash)
_LIKE_NOESC = "\x1e"
_LIKE_PAT_RE = re.compile(
    rf"\bLIKE\s*({_SQL_STR_LIT})(\s+ESCAPE\s*({_SQL_STR_LIT}))?",
    re.IGNORECASE,
)


def _rewrite_like_escapes(sql: str) -> str:
    """Presto LIKE has NO escape character unless ESCAPE is written, and
    ``ESCAPE ''`` explicitly means none; Spark's default escape is
    backslash and it rejects the empty ESCAPE. Backslash-carrying
    patterns without an ESCAPE (and empty-ESCAPE forms) get a sentinel
    escape char so the backslash matches literally."""
    if "LIKE" not in sql.upper():
        return sql
    # ESCAPE NULL: the whole LIKE is NULL for ANY subject
    # (TestConditions.java:50); `= CAST(NULL AS VARCHAR)` is NULL
    # regardless of the left operand, and NOT of NULL stays NULL so the
    # NOT variant drops too (Spark's parser rejects the clause outright)
    sql = re.sub(
        rf"(?i)(\bNOT\s+)?LIKE\s*({_SQL_STR_LIT}|\w+)\s+ESCAPE\s+NULL\b",
        "= CAST(NULL AS VARCHAR)",
        sql,
    )
    mask = _literal_mask(sql)
    out, last = [], 0
    for m in _LIKE_PAT_RE.finditer(sql):
        if mask[m.start()]:
            continue
        pat, esc = m.group(1), m.group(3)
        if esc is not None and esc == "''":
            rep = f"LIKE {pat} ESCAPE '{_LIKE_NOESC}'"
        elif esc is None and "\\" in pat:
            rep = f"LIKE {pat} ESCAPE '{_LIKE_NOESC}'"
        else:
            continue
        out.append(sql[last : m.start()])
        out.append(rep)
        last = m.end()
    out.append(sql[last:])
    return "".join(out)


_AT_TZ_CALL_RE = re.compile(r"^at_timezone\s*\(", re.IGNORECASE)


def _rewrite_timezone_offset_fns(sql: str) -> str:
    """``timezone_hour/minute(x AT TIME ZONE 'z')`` (DateTimeFunctions.java
    :1157,:1165 over a timestamp-with-zone) — after the AT TIME ZONE
    desugar the argument is ``at_timezone(e, z)``, which drops the zone;
    extract the zone's UTC offset at that instant instead:
    offset_sec = unix(e) - unix(to_utc_timestamp(e, z)) (session-zone
    independent — both sides shift identically). Hour/minute split is
    sign-aware (Presto: -08:30 → hour -8, minute -30)."""

    def make(which: str):
        def build(args):
            if len(args) != 1 or not _AT_TZ_CALL_RE.match(args[0].strip()):
                return None  # 1-arg session-zone form: SQL UDF handles it
            arg = args[0].strip()
            open_i = arg.index("(")
            if _scan(arg).close(open_i + 1) != len(arg):
                return None  # at_timezone(...) is a sub-expression, not the arg
            inner = arg[open_i + 1 : -1]
            parts = _scan(inner).items()
            if len(parts) != 2:
                return None
            e, z = parts
            off = (
                f"(unix_timestamp({e}) -"
                f" unix_timestamp(to_utc_timestamp({e}, {z})))"
            )
            if which == "hour":
                return f"CAST(sign({off}) * (abs({off}) DIV 3600) AS BIGINT)"
            return (
                f"CAST(sign({off}) * ((abs({off}) % 3600) DIV 60) AS BIGINT)"
            )

        return build

    sql = _replace_fn_calls(sql, "timezone_hour", make("hour"))
    sql = _replace_fn_calls(sql, "timezone_minute", make("minute"))
    return sql


# --- session-locale datetime names (round 12) ------------------------------
# Presto renders/parses month, weekday and halfday NAMES with the session
# locale (DateTimeFunctions passes session.getLocale() into the Joda /
# MySQL formatters). Spark's formatters are locale-fixed, so under a
# non-English session locale the name-producing tokens lower to JVM
# lookups over CLDR name tables (functions/datetime_compat.py
# LOCALE_DATETIME_NAMES) and parse-side inputs translate their halfday
# words to AM/PM before the established parse path.

_LOCALE_DT_PROBE_RE = re.compile(
    r"(?i)\b(date_format|format_datetime|date_parse|parse_datetime)\s*\("
)


def _rewrite_locale_datetime(sql: str, locale: str) -> str:
    if (locale or "en").split("_")[0].split("-")[0].lower() == "en" or \
            not _LOCALE_DT_PROBE_RE.search(sql):
        return sql
    from .functions.datetime_compat import LOCALE_DATETIME_NAMES

    names = LOCALE_DATETIME_NAMES.get(
        locale.split("_")[0].split("-")[0].lower()
    )
    if not names:  # unknown locale: English fallback (documented gap)
        return sql

    def arr(lst):
        return "array(" + ", ".join(f"'{x}'" for x in lst) + ")"

    def wd(x, full):
        key = "wd_full" if full else "wd_short"
        return f"element_at({arr(names[key])}, weekday({x}) + 1)"

    def mon(x, full):
        key = "mon_full" if full else "mon_short"
        return f"element_at({arr(names[key])}, month({x}))"

    def ampm(x):
        return (
            f"(CASE WHEN hour({x}) < 12 THEN '{names['am']}'"
            f" ELSE '{names['pm']}' END)"
        )

    def _emit(x, segs):
        parts = []
        for kind, v in segs:
            if kind == "fmt" and v:
                parts.append(
                    f"__dtlocf({x}, '{v}')"
                )
            elif kind == "expr":
                parts.append(v)
            elif kind == "fmtj" and v:
                parts.append(f"__dtlocj({x}, '{v}')")
        if not parts:
            return "''"
        return parts[0] if len(parts) == 1 else \
            "concat(" + ", ".join(parts) + ")"

    def mysql_build(a):
        if len(a) != 2:
            return None
        pm = re.fullmatch(r"'((?:[^']|'')*)'", a[1].strip())
        if not pm or not re.search(r"%[aWpbMr]", pm.group(1)):
            return None
        x = a[0].strip()
        segs, buf, i = [], "", 0
        pat = pm.group(1)
        while i < len(pat):
            if pat[i] == "%" and i + 1 < len(pat):
                tok = pat[i:i + 2]
                rep = {
                    "%a": lambda: wd(x, False),
                    "%W": lambda: wd(x, True),
                    "%p": lambda: ampm(x),
                    "%b": lambda: mon(x, False),
                    "%M": lambda: mon(x, True),
                }.get(tok)
                if rep is not None:
                    if buf:
                        segs.append(("fmt", buf))
                        buf = ""
                    segs.append(("expr", rep()))
                elif tok == "%r":
                    if buf:
                        segs.append(("fmt", buf))
                        buf = ""
                    segs.append(("fmt", "%h:%i:%s "))
                    segs.append(("expr", ampm(x)))
                else:
                    buf += tok
                i += 2
            else:
                buf += pat[i]
                i += 1
        if buf:
            segs.append(("fmt", buf))
        return _emit(x, segs)

    def joda_build(a):
        if len(a) != 2:
            return None
        pm = re.fullmatch(r"'((?:[^']|'')*)'", a[1].strip())
        if not pm or not re.search(r"E|a|M{3,}", pm.group(1)):
            return None
        x = a[0].strip()
        segs, buf, i = [], "", 0
        pat = pm.group(1)
        while i < len(pat):
            c = pat[i]
            if c == "'":
                j = pat.find("'", i + 1)
                if j < 0:
                    return None
                buf += pat[i:j + 1]
                i = j + 1
                continue
            if c.isalpha():
                j = i
                while j < len(pat) and pat[j] == c:
                    j += 1
                run = j - i
                rep = None
                if c == "E":
                    rep = wd(x, run >= 4)
                elif c == "a":
                    rep = ampm(x)
                elif c == "M" and run >= 3:
                    rep = mon(x, run >= 4)
                if rep is not None:
                    if buf:
                        segs.append(("fmtj", buf))
                        buf = ""
                    segs.append(("expr", rep))
                else:
                    buf += pat[i:j]
                i = j
                continue
            buf += c
            i += 1
        if buf:
            segs.append(("fmtj", buf))
        return _emit(x, segs)

    def parse_build(mysql):
        # halfday words in the input translate to AM/PM, then the
        # established parse path (incl. the TSWTZ literal fold) applies
        def build(a):
            if len(a) != 2:
                return None
            pm = re.fullmatch(r"'((?:[^']|'')*)'", a[1].strip())
            if not pm:
                return None
            pat = pm.group(1)
            if mysql and "%p" not in pat:
                return None
            if not mysql and not re.search(r"(?<!')a", pat):
                return None
            s = a[0].strip()
            sm = re.fullmatch(r"'((?:[^']|'')*)'", s)
            head = "__dtlocp" if mysql else "__dtlocq"
            if sm:  # literal input: translate at rewrite time
                txt = sm.group(1).replace(names["am"], "AM").replace(
                    names["pm"], "PM"
                )
                return f"{head}('{txt}', {a[1].strip()})"
            return (
                f"{head}(replace(replace({s}, '{names['am']}', 'AM'),"
                f" '{names['pm']}', 'PM'), {a[1].strip()})"
            )

        return build

    sql = _replace_fn_calls(sql, "date_format", mysql_build)
    sql = _replace_fn_calls(sql, "format_datetime", joda_build)
    sql = _replace_fn_calls(sql, "date_parse", parse_build(True))
    sql = _replace_fn_calls(sql, "parse_datetime", parse_build(False))
    sql = re.sub(r"\b__dtlocf\s*\(", "date_format(", sql)
    sql = re.sub(r"\b__dtlocj\s*\(", "format_datetime(", sql)
    sql = re.sub(r"\b__dtlocp\s*\(", "date_parse(", sql)
    sql = re.sub(r"\b__dtlocq\s*\(", "parse_datetime(", sql)
    return sql


# --- TIMESTAMP / TIME WITH TIME ZONE emulation -----------------------------
# Presto packs (millis, zoneKey) per VALUE (DateTimeEncoding.java,
# TimestampWithTimeZoneType.java). The engine models both types as
# ``named_struct('millis', BIGINT, 'zone', STRING)`` following the
# ipaddress pattern: zone-carrying literals fold at rewrite time into the
# ``__tstz(millis, 'zone')`` / ``__ttz(millis, 'zone')`` textual markers
# (expanded to named_struct at the end of rewrite()), and every
# function / cast / operator over a marked value lowers to inline Spark
# SQL on the struct fields — JVM-side, codegen-friendly, column-capable.
# Zone-LESS temporal values stay in the engine's established NTZ model;
# mixed comparisons interpret the NTZ side at the session zone
# (Presto's implicit timestamp → timestamp-with-time-zone coercion).

_TSTZ_PROBE_RE = re.compile(
    r"(?i)WITH\s+TIME\s+ZONE|__tstz|__ttz|"
    r"\b(?:TIMESTAMP|TIME)\s*'[^']*(?:[+-]\d{1,2}:\d{2}"
    r"|\s[A-Za-z][A-Za-z_]*(?:/[A-Za-z0-9_+\-]+)+|\sUTC|\sGMT)\s*'|"
    # zone-carrying producers without a temporal-literal keyword
    r"\bfrom_unixtime\s*\([^()]*,|\bfrom_iso8601_timestamp\s*\(|"
    r"\bparse_datetime\s*\(|"
    # zone-carrying STRING literal cast to a zone-less temporal target
    # (TimestampOperators.castFromSlice / TimeOperators.castFromSlice)
    r"'[^']*(?:[+-]\d{1,2}:\d{2}"
    r"|\s[A-Za-z][A-Za-z_]*(?:/[A-Za-z0-9_+\-]+)+|\sUTC|\sGMT)\s*'"
    r"\s*AS\s+TIME(?:STAMP)?\s*\)"
)
_TSTZ_TEMP_LIT_RE = re.compile(
    r"\b(TIMESTAMP|TIME)\s*'((?:[^']|'')*)'", re.IGNORECASE
)
_TSTZ_MARK_RE = re.compile(r"\b(__tstz|__ttz)\s*\(")
# extraction functions that read the VALUE's zone: lower to the same
# Presto spelling over the local civil timestamp (later passes finish)
_TSTZ_EXTRACT_FNS = (
    "millisecond", "second", "minute", "hour", "day_of_month", "day",
    "day_of_week", "dow", "day_of_year", "doy", "week_of_year", "week",
    "year_of_week", "yow", "month", "quarter", "year", "last_day_of_month",
)
_CMP_OPS = ("<=", ">=", "<>", "!=", "=", "<", ">")


def _tstz_local(m: str, z: str) -> str:
    """Local civil timestamp (NTZ) of instant ``m`` in zone ``z``."""
    return f"from_utc_timestamp(timestamp_millis({m}), {z})"


def _tstz_repack(local_expr: str, z: str, head: str = "__tstz") -> str:
    """Local civil timestamp back to an instant in zone ``z``."""
    return f"{head}(unix_millis(to_utc_timestamp({local_expr}, {z})), {z})"


def _tstz_offmin(m: str, z: str) -> str:
    """Signed UTC-offset minutes of zone ``z`` at instant ``m``
    (BIGINT-typed — DIV needs integral operands)."""
    off = f"(unix_millis({_tstz_local(m, z)}) - ({m}))"
    return f"(CAST(sign({off}) AS BIGINT) * (abs({off}) DIV 60000))"


def _tstz_render(m: str, z: str, head: str = "__tstz") -> str:
    """Presto rendering: ``2001-01-22 03:04:05.321 +07:09`` (TSWTZ) /
    ``03:04:05.321 +07:09`` (TWTZ) — TimestampWithTimeZoneType
    .getObjectValue → SqlTimestampWithTimeZone.toString()."""
    fmt = "HH:mm:ss.SSS" if head == "__ttz" else "yyyy-MM-dd HH:mm:ss.SSS"
    # __spark_date_format: Spark-native pattern, protected from the
    # MySQL-%-pattern pass (renamed back at the end of rewrite())
    return (
        f"concat(__spark_date_format({_tstz_local(m, z)}, '{fmt}'),"
        f" ' ', {z})"
    )


def _tstz_unmark(e: str):
    """``__tstz(M, Z)`` (possibly parenthesized) → (head, M, Z), else
    None."""
    e = e.strip()
    while e.startswith("(") and _scan(e).close(1) == len(e):
        e = e[1:-1].strip()
    m = _TSTZ_MARK_RE.match(e)
    if not m:
        return None
    if _scan(e).close(m.end()) != len(e):
        return None
    parts = _scan(e[m.end():-1]).items()
    if len(parts) != 2:
        return None
    return m.group(1), parts[0].strip(), parts[1].strip()


def _tstz_ntz_to_millis(expr: str, session_zone: str) -> str:
    """Millis of a zone-less temporal expression interpreted at the
    session zone (Presto's timestamp → TSWTZ coercion)."""
    return f"unix_millis(to_utc_timestamp({expr}, '{session_zone}'))"


def _tstz_side_millis(expr: str, session_zone: str) -> str | None:
    """Comparison-side expression → millis text (marked side unpacks;
    zone-less side coerces at the session zone); None = not convertible
    (caller leaves the construct alone)."""
    um = _tstz_unmark(expr)
    if um:
        return f"({um[1]})"
    e = expr.strip()
    if re.fullmatch(r"(?is)(TIMESTAMP|TIME|DATE)\s*'(?:[^']|'')*'", e) or \
            re.fullmatch(r"(?is)(TRY_)?CAST\s*\(.*\)", e):
        return _tstz_ntz_to_millis(e, session_zone)
    return None


def _tstz_primary_fwd(sql: str, i: int) -> int | None:
    """End index of the primary expression starting at ``i`` (marker
    call, temporal literal, function call, or parenthesized expr)."""
    m = re.match(
        r"(?is)(?:TIMESTAMP|TIME|DATE)\s*'(?:[^']|'')*'", sql[i:]
    )
    if m:
        return i + m.end()
    m = re.match(r"[A-Za-z_][\w.]*\s*\(", sql[i:])
    if m:
        return _scan(sql).close(i + m.end())
    if sql[i] == "(":
        return _scan(sql).close(i + 1)
    return None


def _tstz_primary_bwd(sql: str, j: int) -> int | None:
    """Start index of the primary expression ENDING at ``j`` (exclusive):
    temporal literal, call, or parenthesized expr."""
    k = j - 1
    while k >= 0 and sql[k].isspace():
        k -= 1
    if k < 0:
        return None
    if sql[k] == "'":
        q = sql.rfind("'", 0, k)
        while q > 0 and sql[q - 1] == "'":
            q = sql.rfind("'", 0, q - 1)
        if q < 0:
            return None
        hm = re.search(
            r"(?is)\b(TIMESTAMP|TIME|DATE)\s*$", sql[:q]
        )
        if hm:
            return hm.start(1)
        return None
    if sql[k] == ")":
        p = _scan(sql).open_of(k)
        if p < 0:
            return None
        hm = re.search(r"[A-Za-z_][\w.]*\s*$", sql[:p])
        return hm.start() if hm else p
    return None


def _tstz_interval_kind(text: str) -> str | None:
    """Interval tail after ``± `` → 'ym' (calendar add in the value's
    zone), 'dts' (plain millis add — IntervalDayTime is fixed millis,
    DateTimeOperators.add…IntervalDayTime), or None."""
    m = re.match(
        r"(?is)INTERVAL\s*'(?:[^']|'')*'\s+"
        r"(YEAR|MONTH|DAY|HOUR|MINUTE|SECOND)"
        r"(\s+TO\s+(?:MONTH|HOUR|MINUTE|SECOND))?",
        text,
    )
    if not m:
        return None
    return "ym" if m.group(1).upper() in ("YEAR", "MONTH") else "dts"


_LEGACY_DST_ARITH_RE = re.compile(
    r"(?is)(TIMESTAMP\s*'(?:[^']|'')*')\s*([+-])\s*"
    r"(INTERVAL\s*'(?:[^']|'')*'\s+(?:DAY|HOUR|MINUTE|SECOND)"
    r"(?:\s+TO\s+(?:HOUR|MINUTE|SECOND))?)\b"
)


def _rewrite_legacy_dst_arithmetic(sql: str, session_zone: str) -> str:
    """legacy_timestamp=true: TIMESTAMP ± INTERVAL DAY TO SECOND is
    instant arithmetic in the SESSION zone (DateTimeOperators — the
    legacy chronology add), so adding an hour across a DST transition
    moves the local clock by 0 or 2 hours (TestDateTimeOperatorsLegacy
    testTimeZoneGap/testDaylightTimeSaving). Lowered as a
    to_utc/from_utc pair around the add — constant-folded by Catalyst
    for literal operands, zone-less NTZ otherwise untouched. Runs after
    _rewrite_tstz, so any remaining TIMESTAMP literal is zone-less."""
    mask = _literal_mask(sql)
    out, pos = [], 0
    while True:
        m = _LEGACY_DST_ARITH_RE.search(sql, pos)
        if not m:
            break
        if mask[m.start()]:
            out.append(sql[pos:m.start() + 1])
            pos = m.start() + 1
            continue
        ts, op, ivl = m.group(1), m.group(2), m.group(3)
        out.append(sql[pos:m.start()])
        out.append(
            f"from_utc_timestamp(to_utc_timestamp({ts},"
            f" '{session_zone}') {op} {ivl}, '{session_zone}')"
        )
        pos = m.end()
    out.append(sql[pos:])
    return "".join(out)


def _rewrite_tstz(
    sql: str,
    session_zone: str = "UTC",
    session_start_ms: int | None = None,
    legacy_timestamp: bool = False,
) -> str:
    """Fold zone-carrying temporal literals and lower the full operator
    surface over the marked values (see section comment). Conservative:
    activates only where a per-value zone actually appears, so the
    established NTZ model (and every green pin over it) is untouched."""
    if not _TSTZ_PROBE_RE.search(sql):
        return sql
    from .functions.tstz_compat import parse_tstz_literal, parse_ttz_literal

    # 1. zone-carrying literals → markers (mask-aware manual scan; a
    # masked bogus match steps one char, same as _rewrite_typed_literals)
    mask = _literal_mask(sql)
    out, pos = [], 0
    while True:
        m = _TSTZ_TEMP_LIT_RE.search(sql, pos)
        if not m:
            break
        if mask[m.start()]:
            out.append(sql[pos:m.start() + 1])
            pos = m.start() + 1
            continue
        body = m.group(2).replace("''", "'")
        parsed = (
            parse_tstz_literal(body)
            if m.group(1).upper() == "TIMESTAMP"
            else parse_ttz_literal(body)
        )
        out.append(sql[pos:m.start()])
        if parsed is None:
            out.append(m.group(0))
        else:
            head = "__tstz" if m.group(1).upper() == "TIMESTAMP" else "__ttz"
            out.append(f"{head}({parsed[0]}L, '{parsed[1]}')")
        pos = m.end()
    out.append(sql[pos:])
    sql = "".join(out)

    # 2 + 3. casts and lowerings to a fixpoint (lowerings may nest)
    if session_start_ms is None:
        # Presto resolves named-zone offsets at the QUERY start (see
        # DateTimeFunctions 'HACK WARNING'); default = now
        import time as _time

        session_start_ms = int(_time.time() * 1000)
    for _ in range(16):
        new = _tstz_lower_once(
            sql, session_zone, session_start_ms, legacy_timestamp
        )
        if new == sql:
            return sql
        sql = new
    return sql


def _tstz_lower_once(
    sql: str, session_zone: str, session_start_ms: int = 0,
    legacy_timestamp: bool = False,
) -> str:
    from .functions.tstz_compat import parse_tstz_literal, parse_ttz_literal

    # -- CAST(... AS ... WITH TIME ZONE) and casts OF marked values -----
    i = 0
    while True:
        m = _CAST_OPEN_RE.search(sql, i)
        if not m:
            break
        j = _scan(sql).close(m.end())
        inner = sql[m.end():j - 1]
        as_pos = _scan(inner).last_top(_AS_RE, "([")
        if as_pos is None:
            i = m.end()
            continue
        target = " ".join(inner[as_pos + 2:].strip().upper().split())
        expr = inner[:as_pos].strip()
        um = _tstz_unmark(expr)
        rep = None
        if target in ("TIMESTAMP WITH TIME ZONE", "TIME WITH TIME ZONE"):
            want = "__tstz" if target.startswith("TIMESTAMP") else "__ttz"
            sm = re.fullmatch(r"'((?:[^']|'')*)'", expr)
            if um:
                h, M, Z = um
                if h == want:
                    rep = f"{want}({M}, {Z})"
                elif want == "__ttz":
                    # TSWTZ → TWTZ: local time-of-day on the epoch day,
                    # zone preserved (TestTimestampWithTimeZoneBase:258)
                    local = _tstz_local(M, Z)
                    rep = _tstz_repack(
                        f"timestamp_millis(pmod(unix_millis({local}),"
                        f" 86400000))",
                        Z,
                        "__ttz",
                    )
                else:
                    # TWTZ → TSWTZ on the epoch day, zone preserved
                    rep = f"__tstz({M}, {Z})"
            elif sm:
                body = sm.group(1).replace("''", "'")
                parsed = (
                    parse_tstz_literal(body, default_zone=session_zone)
                    if want == "__tstz"
                    else parse_ttz_literal(body, default_zone=session_zone)
                )
                if parsed is not None:
                    rep = f"{want}({parsed[0]}L, '{parsed[1]}')"
            if rep is None:
                # zone-less temporal/arbitrary expr → session zone
                rep = (
                    f"{want}({_tstz_ntz_to_millis(expr, session_zone)},"
                    f" '{session_zone}')"
                )
        elif um:
            h, M, Z = um
            local = _tstz_local(M, Z)
            # legacy_timestamp reads the instant in the SESSION zone
            # for zone-less TIMESTAMP/TIME targets
            # (TimestampWithTimeZoneOperators castToTimestamp legacy
            # branch — TestTimestampWithTimeZoneLegacy testCastToTime);
            # non-legacy keeps the VALUE's local civil clock
            sess_local = _tstz_local(M, f"'{session_zone}'")
            if re.fullmatch(r"VARCHAR(\(\d+\))?|STRING", target):
                rep = _tstz_render(M, Z, h)
            elif target == "TIMESTAMP":
                rep = sess_local if legacy_timestamp else local
            elif target == "DATE":
                rep = f"CAST({local} AS DATE)"
            elif target == "TIME":
                # engine TIME model: NTZ timestamp on the epoch day
                base = sess_local if legacy_timestamp else local
                rep = (
                    f"timestamp_millis(pmod(unix_millis({base}),"
                    f" 86400000))"
                )
        elif target in ("TIMESTAMP", "TIME"):
            # zone-carrying STRING literal → zone-less temporal
            # (TimestampOperators.castFromSlice / TimeOperators):
            # legacy_timestamp parses WITH the zone and lands on the
            # session-zone local instant; non-legacy parses the local
            # fields and DROPS the zone (TestTimestamp vs
            # TestTimestampLegacy testCastFromVarcharContainingTimeZone)
            sm = re.fullmatch(r"'((?:[^']|'')*)'", expr)
            if sm:
                from .functions.tstz_compat import (
                    parse_tstz_literal,
                    parse_ttz_literal,
                    split_zone,
                )

                body = sm.group(1).replace("''", "'")
                sz = split_zone(body)
                if sz is not None:
                    if legacy_timestamp:
                        parsed = (
                            parse_tstz_literal(body)
                            if target == "TIMESTAMP"
                            else parse_ttz_literal(body)
                        )
                        if parsed is not None:
                            loc = _tstz_local(
                                f"{parsed[0]}L", f"'{session_zone}'"
                            )
                            rep = (
                                loc if target == "TIMESTAMP"
                                else f"timestamp_millis(pmod("
                                     f"unix_millis({loc}), 86400000))"
                            )
                    else:
                        parsed = (
                            parse_tstz_literal(sz[0], default_zone="UTC")
                            if target == "TIMESTAMP"
                            else parse_ttz_literal(sz[0], default_zone="UTC")
                        )
                        if parsed is not None:
                            rep = f"timestamp_millis({parsed[0]}L)"
        if rep is None:
            i = m.end()
            continue
        sql = sql[:m.start()] + rep + sql[j:]
        i = m.start() + len(rep)

    # -- functions over marked values -----------------------------------
    def ext_build(fn):
        def build(a):
            if len(a) != 1:
                return None
            um = _tstz_unmark(a[0])
            if not um:
                return None
            h, M, Z = um
            # marker two-pass: the builder must not emit its own name
            return f"__tstzfn_{fn}({_tstz_local(M, Z)})"

        return build

    for fn in _TSTZ_EXTRACT_FNS:
        sql = _replace_fn_calls(sql, fn, ext_build(fn))
    sql = re.sub(r"\b__tstzfn_(\w+)\s*\(", lambda m: m.group(1) + "(", sql)

    def date_build(a):
        if len(a) != 1:
            return None
        um = _tstz_unmark(a[0])
        if not um:
            return None
        _h, M, Z = um
        return f"CAST({_tstz_local(M, Z)} AS DATE)"

    sql = _replace_fn_calls(sql, "date", date_build)

    def extract_build(a):
        # extract(FIELD FROM <marked>) — field read in the value's zone;
        # timezone_* fields read the zone itself (SqlBase.g4 extract)
        if len(a) != 1:
            return None
        fm = re.match(r"(?is)(\w+)\s+FROM\s+(.+)$", a[0].strip())
        if not fm:
            return None
        um = _tstz_unmark(fm.group(2))
        if not um:
            return None
        _h, M, Z = um
        field = fm.group(1).lower()
        if field in ("timezone_hour", "timezone_minute"):
            offmin = _tstz_offmin(M, Z)
            div = "DIV 60" if field == "timezone_hour" else "% 60"
            return (
                f"CAST(sign({offmin}) * (abs({offmin}) {div}) AS BIGINT)"
            )
        field = {"dow": "day_of_week", "doy": "day_of_year"}.get(
            field, field
        )
        if field not in _TSTZ_EXTRACT_FNS:
            return None
        return f"__tstzfn_{field}({_tstz_local(M, Z)})"

    sql = _replace_fn_calls(sql, "extract", extract_build)
    sql = re.sub(r"\b__tstzfn_(\w+)\s*\(", lambda m: m.group(1) + "(", sql)

    def iso_ts_build(a):
        # from_iso8601_timestamp: per-value zone from the text, else the
        # session zone (DateTimeFunctions.fromISO8601Timestamp) —
        # literal folds here; non-literals keep the legacy NTZ path
        if len(a) != 1:
            return None
        sm = re.fullmatch(r"'((?:[^']|'')*)'", a[0].strip())
        if not sm:
            return None
        from .functions.tstz_compat import parse_tstz_literal

        parsed = parse_tstz_literal(
            sm.group(1).replace("''", "'"), default_zone=session_zone
        )
        if parsed is None:
            return None
        return f"__tstz({parsed[0]}L, '{parsed[1]}')"

    sql = _replace_fn_calls(sql, "from_iso8601_timestamp", iso_ts_build)

    def parse_dt_build(a):
        # parse_datetime returns TSWTZ (zone from the parsed text via
        # Z-pattern tokens, else the session zone); literal args fold
        # through the minimal Joda parser, everything else stays on the
        # established NTZ path
        if len(a) != 2:
            return None
        sm = re.fullmatch(r"'((?:[^']|'')*)'", a[0].strip())
        pm = re.fullmatch(r"'((?:[^']|'')*)'", a[1].strip())
        if not sm or not pm:
            return None
        from .functions.tstz_compat import parse_joda_datetime

        parsed = parse_joda_datetime(
            sm.group(1).replace("''", "'"),
            pm.group(1).replace("''", "'"),
            session_zone,
        )
        if parsed is None:
            return None
        return f"__tstz({parsed[0]}L, '{parsed[1]}')"

    sql = _replace_fn_calls(sql, "parse_datetime", parse_dt_build)

    def tz_field(which):
        def build(a):
            if len(a) != 1:
                return None
            um = _tstz_unmark(a[0])
            if not um:
                return None
            _h, M, Z = um
            offmin = _tstz_offmin(M, Z)
            if which == "hour":
                return (
                    f"CAST(sign({offmin}) * (abs({offmin}) DIV 60)"
                    f" AS BIGINT)"
                )
            return (
                f"CAST(sign({offmin}) * (abs({offmin}) % 60) AS BIGINT)"
            )

        return build

    sql = _replace_fn_calls(sql, "timezone_hour", tz_field("hour"))
    sql = _replace_fn_calls(sql, "timezone_minute", tz_field("minute"))

    def at_tz_build(a):
        if len(a) != 2:
            return None
        um = _tstz_unmark(a[0])
        if not um:
            return None
        h, M, z_old = um
        zarg = a[1].strip()
        ivm = re.fullmatch(
            r"(?is)INTERVAL\s*'([^']*)'\s+" + _IVL_UNIT_RANGE, zarg
        )
        if ivm:
            # interval-typed target (DateTimeFunctions.timeAtTimeZone /
            # timestampAtTimeZone INTERVAL_DAY_TO_SECOND overloads):
            # whole minutes → fixed-offset zone key
            ms = _interval_literal_millis(ivm.group(1), ivm.group(2))
            if ms is None:
                return None
            if ms % 60_000:
                return ("raise_error('Invalid time zone offset interval:"
                        " interval contains seconds')")
            mins = ms // 60_000
            if abs(mins) > 14 * 60:
                return f"raise_error('Invalid offset minutes {mins}')"
            # offset 0 canonicalizes to UTC (TimeZoneKey.java:138)
            zarg = "'UTC'" if mins == 0 else "'{}{:02d}:{:02d}'".format(
                "-" if mins < 0 else "+", abs(mins) // 60, abs(mins) % 60
            )
        if h == "__tstz":
            # timestampAtTimeZone: same instant, new zone
            return f"{h}({M}, {zarg})"
        # timeAtTimeZone (DateTimeFunctions.java:1311-1336): TIME's
        # millis are 1970-anchored, but offsets of named zones must be
        # the ones valid at SESSION START (the reference's documented
        # 'HACK WARNING' correction), then the target-local clock
        # renormalizes into [0, 24h)
        s_ms = f"{session_start_ms}L"

        def off(z, i):
            return (
                f"(unix_millis(from_utc_timestamp("
                f"timestamp_millis({i}), {z})) - ({i}))"
            )

        def diff(z):
            return f"({off(z, '0')} - {off(z, s_ms)})"

        m1 = f"(({M}) + {diff(z_old)} - {diff(zarg)})"
        local = f"({m1} + {off(zarg, '0')})"
        # renormalize into [0, 24h] — the reference's loop is
        # `while (localMillis > DAYS.toMillis(1))` (strictly greater),
        # so a local value of EXACTLY 86,400,000 is retained, which a
        # bare pmod would map to 0 (DateTimeFunctions.timeAtTimeZone)
        adj = (
            f"(CASE WHEN {local} > 0 AND pmod({local}, 86400000) = 0"
            f" THEN {local} - 86400000"
            f" ELSE {local} - pmod({local}, 86400000) END)"
        )
        m2 = f"({m1} - {adj})"
        return f"__ttz({m2}, {zarg})"

    sql = _replace_fn_calls(sql, "at_timezone", at_tz_build)

    def to_unixtime_build(a):
        if len(a) != 1:
            return None
        um = _tstz_unmark(a[0])
        if not um:
            return None
        return f"(CAST({um[1]} AS DOUBLE) / 1000.0)"

    sql = _replace_fn_calls(sql, "to_unixtime", to_unixtime_build)

    def from_unixtime_build(a):
        # zone-carrying forms return TSWTZ (DateTimeFunctions.java
        # fromUnixTime(unixtime, zoneId) / (unixtime, hours, minutes));
        # the 1-arg form stays on the established NTZ path
        if len(a) == 2:
            zm = re.fullmatch(r"'((?:[^']|'')*)'", a[1].strip())
            if not zm:
                return None
            zone = zm.group(1)
            mo = re.fullmatch(r"([+-])(\d{1,2}):(\d{2})", zone)
            if mo:
                zone = f"{mo.group(1)}{int(mo.group(2)):02d}:{mo.group(3)}"
            return (
                f"__tstz(CAST(round(({a[0]}) * 1000) AS BIGINT),"
                f" '{zone}')"
            )
        if len(a) == 3:
            try:
                h, mi = int(a[1]), int(a[2])
            except ValueError:
                return None
            # getTimeZoneKeyForOffset(hoursOffset * 60 + minutesOffset)
            total = h * 60 + mi
            zone = f"{'-' if total < 0 else '+'}" \
                   f"{abs(total) // 60:02d}:{abs(total) % 60:02d}"
            return (
                f"__tstz(CAST(round(({a[0]}) * 1000) AS BIGINT),"
                f" '{zone}')"
            )
        return None

    sql = _replace_fn_calls(sql, "from_unixtime", from_unixtime_build)

    def to_iso_build(a):
        if len(a) != 1:
            return None
        um = _tstz_unmark(a[0])
        if not um:
            return None
        _h, M, Z = um
        offmin = _tstz_offmin(M, Z)
        off_txt = (
            f"concat(CASE WHEN {offmin} < 0 THEN '-' ELSE '+' END, "
            f"lpad(CAST(abs({offmin}) DIV 60 AS STRING), 2, '0'), ':', "
            f"lpad(CAST(abs({offmin}) % 60 AS STRING), 2, '0'))"
        )
        return (
            f"concat(__spark_date_format({_tstz_local(M, Z)}, "
            f"\"yyyy-MM-dd'T'HH:mm:ss.SSS\"), {off_txt})"
        )

    sql = _replace_fn_calls(sql, "to_iso8601", to_iso_build)

    def two_arg_local(fn):
        # date_format / format_datetime: format the local civil
        # timestamp (later passes lower the pattern dialects); a Joda
        # trailing Z-run in a literal format_datetime pattern renders
        # the zone (Z = ±HHmm, ZZ = ±HH:MM, ZZZ+ = zone id)
        def build(a):
            if len(a) != 2:
                return None
            um = _tstz_unmark(a[0])
            if not um:
                return None
            _h, M, Z = um
            local = _tstz_local(M, Z)
            pat = a[1].strip()
            pm = re.fullmatch(r"'((?:[^']|'')*)'", pat)
            zm = re.search(r"(Z+)$", pm.group(1)) if (
                fn == "format_datetime" and pm
            ) else None
            if zm:
                head = pm.group(1)[:zm.start()]
                if len(zm.group(1)) >= 3:
                    ztxt = Z  # zone id (a quoted literal for folds)
                else:
                    offmin = _tstz_offmin(M, Z)
                    colon = "':', " if len(zm.group(1)) == 2 else ""
                    ztxt = (
                        f"concat(CASE WHEN {offmin} < 0 THEN '-' "
                        f"ELSE '+' END, "
                        f"lpad(CAST(abs({offmin}) DIV 60 AS STRING),"
                        f" 2, '0'), {colon}"
                        f"lpad(CAST(abs({offmin}) % 60 AS STRING),"
                        f" 2, '0'))"
                    )
                return (
                    f"concat(__tstzfn_{fn}({local}, '{head}'), {ztxt})"
                )
            return f"__tstzfn_{fn}({local}, {pat})"

        return build

    for fn in ("date_format", "format_datetime"):
        sql = _replace_fn_calls(sql, fn, two_arg_local(fn))
    sql = re.sub(r"\b__tstzfn_(\w+)\s*\(", lambda m: m.group(1) + "(", sql)

    def date_trunc_build(a):
        if len(a) != 2:
            return None
        um = _tstz_unmark(a[1])
        if not um:
            return None
        h, M, Z = um
        unit = a[0].strip()
        return _tstz_repack(
            f"date_trunc({unit}, {_tstz_local(M, Z)})", Z, h
        )

    sql = _replace_fn_calls(sql, "date_trunc", date_trunc_build)

    def gl_build(which):
        # keep the result a PURE marker (downstream render/compare
        # lowerings recognize only markers): pick the extreme millis,
        # then recover that value's zone by a CASE over the candidates
        def build(a):
            ums = [_tstz_unmark(x) for x in a]
            if len(a) < 2 or not all(ums):
                return None
            ms = [f"({u[1]})" for u in ums]
            head = ums[0][0]
            pick = f"__tstzgl_{which}({', '.join(ms)})"
            whens = " ".join(
                f"WHEN {m} THEN {u[2]}" for m, u in zip(ms[:-1], ums[:-1])
            )
            zone = f"CASE {pick} {whens} ELSE {ums[-1][2]} END"
            return f"{head}({pick}, {zone})"

        return build

    sql = _replace_fn_calls(sql, "greatest", gl_build("greatest"))
    sql = _replace_fn_calls(sql, "least", gl_build("least"))
    sql = re.sub(r"\b__tstzgl_(\w+)\s*\(", lambda m: m.group(1) + "(", sql)

    def date_add_build(a):
        if len(a) != 3:
            return None
        um = _tstz_unmark(a[2])
        if not um:
            return None
        h, M, Z = um
        unit = a[0].strip().strip("'").lower()
        n = a[1].strip()
        ms = {
            "millisecond": 1, "second": 1000, "minute": 60000,
            "hour": 3600000,
        }.get(unit)
        if ms is not None:
            return f"{h}(({M}) + ({n}) * {ms}, {Z})"
        return _tstz_repack(
            f"date_add('{unit}', {n}, {_tstz_local(M, Z)})", Z, h
        )

    sql = _replace_fn_calls(sql, "date_add", date_add_build)

    def date_diff_build(a):
        if len(a) != 3:
            return None
        um1 = _tstz_unmark(a[1])
        um2 = _tstz_unmark(a[2])
        if not um1 and not um2:
            return None
        # unpack in the LEFT value's chronology (DateTimeFunctions
        # .diffTimestampWithTimeZone uses unpackChronology(left))
        z = (um1 or um2)[2]
        m1 = f"({um1[1]})" if um1 else _tstz_ntz_to_millis(
            a[1].strip(), session_zone
        )
        m2 = f"({um2[1]})" if um2 else _tstz_ntz_to_millis(
            a[2].strip(), session_zone
        )
        l1 = _tstz_local(m1, z)
        l2 = _tstz_local(m2, z)
        return f"date_diff({a[0].strip()}, __tstz_l({l1}), __tstz_l({l2}))"

    sql = _replace_fn_calls(sql, "date_diff", date_diff_build)
    # __tstz_l is a transparent wrapper that keeps date_diff_build from
    # re-matching its own output in the same fixpoint round
    sql = re.sub(r"\b__tstz_l\s*\(", "(", sql)

    # -- operators -------------------------------------------------------
    sql = _tstz_operators(sql, session_zone)
    return sql


_TSTZ_ARR_OPEN_RE = re.compile(r"\b(?:array|row)\s*\(", re.IGNORECASE)


def _tstz_to_millis_text(s: str) -> str:
    """Replace every marker call in ``s`` by its bare millis expr."""
    while True:
        m = _TSTZ_MARK_RE.search(s)
        if not m:
            return s
        j = _scan(s).close(m.end())
        um = _tstz_unmark(s[m.start():j])
        if not um:
            return s
        s = s[:m.start()] + f"({um[1]})" + s[j:]


def _tstz_operators(sql: str, session_zone: str) -> str:
    """Comparisons / BETWEEN / ± INTERVAL / subtraction over marked
    values — instant (millis) semantics, per the operator classes
    (TimestampWithTimeZoneOperators.java)."""
    # array-of-TSWTZ equality: element comparison is on the instant, so
    # both array constructors normalize to millis (zone dropped — it
    # only matters for rendering, which an equality result never does).
    # The ARRAY[...] literal has already lowered to array(...) by the
    # time this pass runs (_rewrite_array_literals is first).
    i = 0
    while True:
        m = _TSTZ_ARR_OPEN_RE.search(sql, i)
        if not m:
            break
        a_end = _scan(sql).close(m.end())
        a_txt = sql[m.start():a_end]
        i = m.end()
        if "__tstz" not in a_txt and "__ttz" not in a_txt:
            continue
        om = re.match(r"\s*(=|!=|<>)\s*", sql[a_end:])
        if not om:
            continue
        b_start = a_end + om.end()
        bm = _TSTZ_ARR_OPEN_RE.match(sql, b_start)
        if not bm:
            continue
        b_end = _scan(sql).close(bm.end())
        rep = (
            _tstz_to_millis_text(a_txt)
            + om.group(0)
            + _tstz_to_millis_text(sql[b_start:b_end])
        )
        sql = sql[:m.start()] + rep + sql[b_end:]
        i = m.start() + len(rep)
    # commuted interval-first addition (IntervalDayTimeOperators /
    # IntervalYearMonthOperators add overloads are symmetric):
    # «INTERVAL '3' hour + __ttz(...)» → «__ttz(...) + INTERVAL '3' hour»
    # so the marker-led ± INTERVAL branch below handles both spellings
    # The match is a whole CHAIN of interval literals («i1 - i2 + …»)
    # so a mixed additive prefix commutes as a unit: «i1 - i2 + t»
    # → «t + i1 - i2» (instant arithmetic; left-assoc preserves signs).
    _ivl_first = re.compile(
        r"(?is)(?:\bINTERVAL\s*'(?:[^']|'')*'\s+"
        r"(?:YEAR|MONTH|DAY|HOUR|MINUTE|SECOND)"
        r"(?:\s+TO\s+(?:MONTH|HOUR|MINUTE|SECOND))?\s*[+-]\s*)+"
        r"(?=(?:__tstz|__ttz)\s*\()"
    )
    _pos = 0
    while True:
        m = _ivl_first.search(sql, _pos)
        if not m:
            break
        chain = sql[m.start():m.end()].rstrip()
        # Only commute when the chain STARTS an additive term (not the
        # right operand of a preceding '-'/'*'/'/' — stealing it there
        # would flip signs / break precedence), and only when the final
        # operator binding the marker is '+' («ivl - tstz» is invalid).
        prev = sql[:m.start()].rstrip()
        if (prev and prev[-1] in "-*/") or chain[-1] != "+":
            _pos = m.start() + 1
            continue
        mm = _TSTZ_MARK_RE.match(sql, m.end())
        mark_end = _scan(sql).close(mm.end())
        chain_body = chain[:-1].rstrip()  # drop the trailing '+'
        sql = (
            sql[:m.start()] + sql[m.end():mark_end] + " + " + chain_body
            + sql[mark_end:]
        )
        _pos = 0
    changed = True
    while changed:
        changed = False
        for m in _TSTZ_MARK_RE.finditer(sql):
            start = m.start()
            end = _scan(sql).close(m.end())
            um = _tstz_unmark(sql[start:end])
            if not um:
                continue
            h, M, Z = um
            after = sql[end:]
            aw = len(after) - len(after.lstrip())
            rest = after[aw:]

            # ± INTERVAL
            pm = re.match(r"([+-])\s*", rest)
            if pm and _tstz_interval_kind(rest[pm.end():]):
                kind = _tstz_interval_kind(rest[pm.end():])
                im = re.match(
                    r"(?is)INTERVAL\s*'(?:[^']|'')*'\s+"
                    r"(?:YEAR|MONTH|DAY|HOUR|MINUTE|SECOND)"
                    r"(\s+TO\s+(?:MONTH|HOUR|MINUTE|SECOND))?",
                    rest[pm.end():],
                )
                ivl = rest[pm.end():pm.end() + im.end()]
                sign = pm.group(1)
                if kind == "dts":
                    rep = (
                        f"{h}(({M}) {sign} "
                        f"unix_millis(timestamp_millis(0) + {ivl}), {Z})"
                    )
                else:
                    rep = _tstz_repack(
                        f"({_tstz_local(M, Z)} {sign} {ivl})", Z, h
                    )
                cut = end + aw + pm.end() + im.end()
                sql = sql[:start] + rep + sql[cut:]
                changed = True
                break

            # marked - marked → day-time interval; marked CMP side
            for op in ("-",) + _CMP_OPS:
                if not rest.startswith(op):
                    continue
                # '-' only when followed by another temporal primary
                ro = rest[len(op):]
                ro_off = len(ro) - len(ro.lstrip())
                rhs_start = end + aw + len(op) + ro_off
                rhs_end = _tstz_primary_fwd(sql, rhs_start)
                if rhs_end is None:
                    break
                rhs = sql[rhs_start:rhs_end]
                rm = _tstz_side_millis(rhs, session_zone)
                if rm is None or (op == "-" and not _tstz_unmark(rhs)):
                    break
                lm = f"({M})"
                if op == "-":
                    rep = (
                        f"make_dt_interval(0, 0, 0, "
                        f"({lm} - {rm}) / 1000.0)"
                    )
                else:
                    rep = f"({lm} {op} {rm})"
                sql = sql[:start] + rep + sql[rhs_end:]
                changed = True
                break
            if changed:
                break

            # [NOT] BETWEEN with a marked subject
            bm = re.match(r"(?is)(NOT\s+)?BETWEEN\s+", rest)
            if bm:
                x_start = end + aw + bm.end()
                x_end = _tstz_primary_fwd(sql, x_start)
                if x_end is not None:
                    am = re.match(r"(?is)\s+AND\s+", sql[x_end:])
                    if am:
                        y_start = x_end + am.end()
                        y_end = _tstz_primary_fwd(sql, y_start)
                        if y_end is not None:
                            xm = _tstz_side_millis(
                                sql[x_start:x_end], session_zone
                            )
                            ym = _tstz_side_millis(
                                sql[y_start:y_end], session_zone
                            )
                            if xm is not None and ym is not None:
                                neg = "NOT " if bm.group(1) else ""
                                rep = (
                                    f"(({M}) {neg}BETWEEN {xm} AND {ym})"
                                )
                                sql = sql[:start] + rep + sql[y_end:]
                                changed = True
                                break

            # plain side BEFORE a marked side: «X op __tstz(...)» /
            # «X between __tstz(...) and ...» — convert X
            k = start - 1
            while k >= 0 and sql[k].isspace():
                k -= 1
            head2 = sql[:k + 1]
            opm = None
            for op in _CMP_OPS:
                if head2.endswith(op):
                    opm = op
                    break
            if opm:
                lhs_start = _tstz_primary_bwd(sql, len(head2) - len(opm))
                if lhs_start is not None:
                    lhs = sql[lhs_start:len(head2) - len(opm)].strip()
                    if not _tstz_unmark(lhs):
                        lm = _tstz_side_millis(lhs, session_zone)
                        if lm is not None:
                            rep = f"{lm} {opm} ({M})"
                            sql = sql[:lhs_start] + rep + sql[end:]
                            changed = True
                            break
            abm = re.search(r"(?is)(\bNOT\s+)?\bBETWEEN\s*$", head2)
            if abm:
                subj_start = _tstz_primary_bwd(sql, abm.start())
                if subj_start is not None:
                    subj = sql[subj_start:abm.start()].strip()
                    if not _tstz_unmark(subj):
                        sm2 = _tstz_side_millis(subj, session_zone)
                        if sm2 is not None:
                            neg = "NOT " if abm.group(1) else ""
                            am2 = re.match(r"(?is)\s*AND\s+", sql[end:])
                            if am2:
                                y_start = end + am2.end()
                                y_end = _tstz_primary_fwd(sql, y_start)
                                if y_end is not None:
                                    ym2 = _tstz_side_millis(
                                        sql[y_start:y_end], session_zone
                                    )
                                    if ym2 is not None:
                                        rep = (
                                            f"{sm2} {neg}BETWEEN ({M}) "
                                            f"AND {ym2}"
                                        )
                                        sql = (
                                            sql[:subj_start] + rep
                                            + sql[y_end:]
                                        )
                                        changed = True
                                        break
    return sql


def _expand_tstz_markers(sql: str) -> str:
    """Remaining ``__tstz/__ttz`` markers (values that cross the output
    boundary) → named_struct — struct ordering is millis-first, so
    ORDER BY / greatest / least follow instant order natively."""
    if "__tstz" not in sql and "__ttz" not in sql:
        return sql
    out = []
    while True:
        m = _TSTZ_MARK_RE.search(sql)
        if not m:
            out.append(sql)
            return "".join(out)
        j = _scan(sql).close(m.end())
        parts = _scan(sql[m.end():j - 1]).items()
        out.append(sql[:m.start()])
        if len(parts) == 2:
            out.append(
                f"named_struct('millis', CAST({parts[0]} AS BIGINT), "
                f"'zone', {parts[1]})"
            )
        else:  # malformed — leave (Spark will raise a clear error)
            out.append(sql[m.start():j])
        sql = sql[j:]


_ARRAY_AGG_RE = re.compile(r"\barray_agg\s*\(", re.IGNORECASE)
_FILTER_TAIL_RE = re.compile(r"\s*FILTER\s*\(", re.IGNORECASE)


def _parse_sort_items(txt: str) -> list[tuple[str, bool, bool | None]]:
    """ORDER BY item list → [(expr, desc, nulls_first|None)]."""
    keys = []
    for part in _scan(txt).items():
        part = part.strip()
        nulls_first = None
        nm = re.search(r"\s+NULLS\s+(FIRST|LAST)\s*$", part, re.IGNORECASE)
        if nm:
            nulls_first = nm.group(1).upper() == "FIRST"
            part = part[: nm.start()].strip()
        kdesc = False
        dm = re.search(r"\s+(ASC|DESC)\s*$", part, re.IGNORECASE)
        if dm:
            kdesc = dm.group(1).upper() == "DESC"
            part = part[: dm.start()].strip()
        keys.append((part, kdesc, nulls_first))
    return keys


_ORDERLESS_AGG_ORDERBY_RE = re.compile(
    r"\b(sum|count|avg|min|max|bool_and|bool_or|every|arbitrary|any_value|"
    r"approx_distinct|approx_percentile|approx_set|stddev|stddev_pop|"
    r"stddev_samp|variance|var_pop|var_samp|skewness|kurtosis|"
    r"geometric_mean|bitwise_and_agg|bitwise_or_agg|checksum|set_agg|"
    r"set_union|map_union|histogram|min_by|max_by)\s*\(",
    re.IGNORECASE,
)


def _rewrite_orderless_agg_orderby(sql: str) -> str:
    """Presto's grammar permits ``ORDER BY`` inside ANY aggregate call
    (TestOrderedAggregation ``sum(x ORDER BY y)``); for order-insensitive
    aggregates the clause is semantically inert, so it is stripped.
    Order-SENSITIVE aggregates (array_agg, map/multimap_agg) keep their
    own ordered rewrites."""
    pos = 0
    while True:
        m = _find_outside(_ORDERLESS_AGG_ORDERBY_RE, sql, pos)
        if m is None:
            return sql
        j = _scan(sql).close(m.end())
        arg = sql[m.end() : j - 1]
        # anchor on the ORDER keyword itself — the mask blanks paren
        # interiors to spaces, so a leading-\s+ pattern would match from
        # the start of a masked region and truncate the argument
        # (``sum(cast(x AS double) ORDER BY x)`` -> ``sum(cast)``)
        om = re.search(
            r"\bORDER\s+BY\s", _scan(arg).flat(), re.IGNORECASE
        )
        if om is None:
            pos = j
            continue
        sql = sql[: m.end()] + arg[: om.start()].strip() + sql[j - 1 :]
        pos = m.end()


def _cmp_chain(keys, i: int = 0) -> str:
    """Comparator body for array_sort over (__o0.., __v) structs: walks
    the ORDER BY keys left-to-right with per-key direction and NULLS
    placement (default: nulls sort larger than any value, Presto-style)."""
    if i == len(keys):
        return "0"
    _, desc, nulls_first = keys[i]
    lo, ro = f"__cl.__o{i}", f"__cr.__o{i}"
    nfirst = nulls_first if nulls_first is not None else False
    lt, gt = ("1", "-1") if desc else ("-1", "1")
    nl, nr = ("-1", "1") if nfirst else ("1", "-1")
    rest = _cmp_chain(keys, i + 1)
    return (
        f"CASE WHEN {lo} IS NULL AND {ro} IS NULL THEN {rest}"
        f" WHEN {lo} IS NULL THEN {nl}"
        f" WHEN {ro} IS NULL THEN {nr}"
        f" WHEN {lo} < {ro} THEN {lt}"
        f" WHEN {lo} > {ro} THEN {gt}"
        f" ELSE {rest} END"
    )


def _rewrite_array_agg_ordered(sql: str) -> str:
    """Presto ``array_agg(e ORDER BY k [DESC]) [FILTER (WHERE c)]``
    (within-group ordering; Spark's array_agg has none): sort a
    (key, value) struct array — array_sort orders by fields in
    declaration order — and project the values back out. A trailing
    FILTER clause is folded onto the inner aggregate (it can't stay on
    the transform)."""
    pos = 0
    while True:
        m = _find_outside(_ARRAY_AGG_RE, sql, pos)
        if m is None:
            return sql
        j = _scan(sql).close(m.end())
        arg = sql[m.end() : j - 1]
        om = re.search(r"\s+ORDER\s+BY\s+", arg, re.IGNORECASE)
        if not om or len(_scan(arg[: om.start()]).items()) != 1:
            pos = m.end()
            continue
        e = arg[: om.start()].strip()
        distinct = False
        dm0 = re.match(r"DISTINCT\s+", e, re.IGNORECASE)
        if dm0:
            distinct = True
            e = e[dm0.end() :].strip()
        keys = _parse_sort_items(arg[om.end() :])
        if distinct:
            # Presto: with DISTINCT, every ORDER BY expression must
            # appear in the arguments — i.e. equal the single argument
            # (modulo direction). Other shapes stay for the analyzer
            # to reject, matching Presto's error.
            norm = lambda x: " ".join(x.split()).lower()  # noqa: E731
            if any(norm(k) != norm(e) for k, _, _ in keys):
                pos = m.end()
                continue
        end = j
        filt = ""
        fm = _FILTER_TAIL_RE.match(sql, j)
        if fm:
            fend = _scan(sql).close(fm.end())
            filt = " " + sql[j:fend].strip()
            end = fend
        # comparator sort for every form: a plain struct array_sort puts
        # NULL key fields FIRST (Spark field ordering) and DESC-via-
        # reverse() flips null placement, while Presto's default is
        # NULLS LAST regardless of direction (AstBuilder sort-item
        # default → ASC_NULLS_LAST / DESC_NULLS_LAST)
        fields = ", ".join(
            f"{k} AS __o{i}" for i, (k, _, _) in enumerate(keys)
        ) + f", {e} AS __v"
        pairs = f"array_agg(struct({fields})){filt}"
        if distinct:
            pairs = f"array_distinct({pairs})"
        sorted_pairs = (
            f"array_sort({pairs}, (__cl, __cr) -> {_cmp_chain(keys)})"
        )
        # empty group (everything FILTERed out) → NULL like Presto's
        # array_agg, not the empty array Spark's returns
        repl = (
            f"CASE WHEN size({sorted_pairs}) = 0 THEN NULL"
            f" ELSE transform({sorted_pairs}, __p -> __p.__v) END "
        )  # trailing space: source may abut the ')' (e.g. ``)FROM``)
        sql = sql[: m.start()] + repl + sql[end:]
        pos = m.start() + len(repl)


def _expand_presto_aggregates(sql: str) -> str:
    """SQL-surface forms of Presto aggregates Spark lacks (map_agg,
    multimap_agg, histogram — MapAggregationFunction / Histogram.java).
    SQL temp functions can't define aggregates, so the calls expand inline
    into array_agg-based expression templates (sorted entries keep results
    deterministic; session mapKeyDedupPolicy=LAST_WIN matches Presto's
    later-entry-wins on duplicate keys)."""

    def map_agg(a):
        if len(a) != 2:
            return None
        return (
            "map_from_entries(array_sort(array_agg(struct("
            f"{a[0]}, {a[1]}))))"
        )

    def histogram(a):
        if len(a) != 1:
            return None
        agg = f"array_agg({a[0]})"
        return (
            f"map_from_entries(transform(array_sort(array_distinct({agg})), "
            f"__hv -> struct(__hv, bigint(size(filter({agg}, __he -> __he = __hv))))))"
        )

    def multimap_agg(a):
        if len(a) != 2:
            return None
        val = a[1]
        om = re.search(
            r"\bORDER\s+BY\s+",  # \b not \s+ — mask blanks parens to spaces
            _scan(val).flat(),
            re.IGNORECASE,
        )
        if om:
            # multimap_agg(k, v ORDER BY s..) — per-key value lists in
            # sort order (TestOrderedAggregation): comparator-sorted
            # entries, same chain as ordered array_agg
            skeys = _parse_sort_items(val[om.end() :])
            val = val[: om.start()].strip()
            sf = ", ".join(
                f"{k} AS __o{i}" for i, (k, _, _) in enumerate(skeys)
            )
            entries = (
                f"array_sort(array_agg(struct({sf}, {a[0]} AS __mk, "
                f"{val} AS __mv)), (__cl, __cr) -> {_cmp_chain(skeys)})"
            )
        else:
            entries = (
                f"array_sort(array_agg(struct({a[0]} AS __mk, {val} AS __mv)))"
            )
        keys = f"array_distinct(transform({entries}, __p -> __p.__mk))"
        return (
            f"map_from_arrays({keys}, transform({keys}, "
            f"__k -> transform(filter({entries}, __p -> __p.__mk = __k), "
            f"__p -> __p.__mv)))"
        )

    def numeric_histogram(a):
        # Presto numeric_histogram(buckets, x) → map<double,double>;
        # Spark's histogram_numeric(x, nb) → array<struct<x,y>> (arg order
        # swapped, same adaptive-bin estimator family).
        if len(a) != 2:
            return None
        return (
            f"map_from_entries(transform(histogram_numeric({a[1]}, "
            f"int({a[0]})), __s -> struct(double(__s.x), double(__s.y))))"
        )

    # N-extreme forms (MaxNAggregationFunction / MinByNAggregationFunction
    # etc.): max(x, n) → n largest as array; max_by(x, y, n) → x-values of
    # the n largest y. 1-arg max / 2-arg max_by pass through to Spark
    # natives untouched (arity-gated).
    def max_n(a):
        if len(a) != 2:
            return None
        return f"slice(reverse(array_sort(array_agg({a[0]}))), 1, {a[1]})"

    def min_n(a):
        if len(a) != 2:
            return None
        return f"slice(array_sort(array_agg({a[0]})), 1, {a[1]})"

    def _by_n(a, rev: bool):
        if len(a) != 3:
            return None
        entries = f"array_sort(array_agg(struct({a[1]} AS __o, {a[0]} AS __v)))"
        if rev:
            entries = f"reverse({entries})"
        return f"transform(slice({entries}, 1, {a[2]}), __p -> __p.__v)"

    # Geospatial aggregates (presto-geospatial aggregation/
    # ConvexHullAggregation.java, GeometryUnionAgg.java): expand through
    # array_agg into the scalar geometry fold. The agg array is sorted by
    # a bbox key so results are deterministic under shuffle ordering.
    _GEO_SORT = (
        "array_sort({agg}, (ga_, gb_) -> CASE"
        " WHEN array_min(transform(ga_.pts, gs_ -> gs_.x)) <"
        "      array_min(transform(gb_.pts, gs_ -> gs_.x)) THEN -1"
        " WHEN array_min(transform(ga_.pts, gs_ -> gs_.x)) >"
        "      array_min(transform(gb_.pts, gs_ -> gs_.x)) THEN 1"
        " WHEN array_min(transform(ga_.pts, gs_ -> gs_.y)) <"
        "      array_min(transform(gb_.pts, gs_ -> gs_.y)) THEN -1"
        " WHEN array_min(transform(ga_.pts, gs_ -> gs_.y)) >"
        "      array_min(transform(gb_.pts, gs_ -> gs_.y)) THEN 1"
        " ELSE 0 END)"
    )

    def geometry_union_agg(a):
        if len(a) != 1:
            return None
        return (
            "geometry_union("
            + _GEO_SORT.format(agg=f"array_agg({a[0]})")
            + ")"
        )

    def convex_hull_agg(a):
        if len(a) != 1:
            return None
        return (
            "st_convex_hull(geometry_union("
            + _GEO_SORT.format(agg=f"array_agg({a[0]})")
            + "))"
        )

    sql = _rewrite_orderless_agg_orderby(sql)
    sql = _rewrite_array_agg_ordered(sql)

    def reduce_agg(a):
        # ReduceAggregationFunction.java: fold inputs through input_fn
        # from the initial state; the combine_fn merges partials — the
        # array_agg expansion folds sequentially so combine is redundant
        # (assumes the documented associativity contract holds). The
        # state TYPE is Presto's unification of the initial-state and
        # input types (literal 0 + BIGINT inputs → BIGINT state, not a
        # blanket DOUBLE): Spark's aggregate() wants init == state type
        # exactly, so a numeric init is passed through
        # element_at(array(init, first_element), 1) — the array
        # constructor computes the least-common type JVM-side, keeping
        # integer states integer. Non-numeric inits (array/map/row
        # states) pass through unchanged — their lambdas already close
        # over the state type. NOTE: each group's inputs materialize as
        # one array cell before the fold (README documents the bound);
        # Presto streams the state row-by-row.
        if len(a) != 4:
            return None
        arr = f"array_agg({a[0]})"
        init = a[1].strip()
        if re.fullmatch(
            r"(?is)[+-]?\d+(\.\d+)?([eE][+-]?\d+)?"
            r"|CAST\s*\(.*AS\s+"
            r"(TINYINT|SMALLINT|INT|INTEGER|BIGINT|REAL|FLOAT|DOUBLE"
            r"|DECIMAL\s*(\(\s*\d+\s*(,\s*\d+\s*)?\))?)\s*\)",
            init,
        ):
            init = (
                f"element_at(array(({init}),"
                f" element_at({arr}, 1)), 1)"
            )
        return f"aggregate({arr}, {init}, {a[2]})"

    def approx_percentile_nonconst(a):
        # approx_percentile(v, p) with a NON-LITERAL percentage: Spark's
        # percentile_approx demands a foldable percentage, but Presto
        # accepts any expression that is CONSTANT over the input rows
        # (ApproximateDoublePercentileAggregations checkCondition at
        # runtime — testAggregationWithSomeArgumentCasts). Lower to the
        # exact nearest-rank pick over a sorted collected array; max(p)
        # realizes the row-constant percentage. Group-materialization
        # bound like reduce_agg (README); literal percentages keep the
        # sketch-based percentile_approx fast path below via rename.
        if len(a) != 2:
            return None
        v, p = a[0].strip(), a[1].strip()
        if re.fullmatch(r"[+-]?(\d+\.?\d*|\.\d+)(E[+-]?\d+)?", p,
                        re.IGNORECASE):
            return None
        if re.fullmatch(r"(?is)(DOUBLE|DECIMAL|REAL)\s*'[^']*'", p):
            return None
        if re.match(r"(?is)^ARRAY\s*[\[(]", p):
            return None  # array-of-percentages literal: rename path
        return (
            f"try_element_at(array_sort(array_agg({v})), "
            f"greatest(1, CAST(ceil(max({p}) * count({v})) AS INT)))"
        )

    sql = _replace_fn_calls(
        sql, "approx_percentile", approx_percentile_nonconst
    )
    sql = _replace_fn_calls(sql, "reduce_agg", reduce_agg)
    sql = _replace_fn_calls(sql, "geometry_union_agg", geometry_union_agg)
    sql = _replace_fn_calls(sql, "convex_hull_agg", convex_hull_agg)
    sql = _replace_fn_calls(sql, "map_agg", map_agg)
    sql = _replace_fn_calls(sql, "multimap_agg", multimap_agg)
    sql = _replace_fn_calls(sql, "numeric_histogram", numeric_histogram)
    sql = _replace_fn_calls(sql, "max_by", lambda a: _by_n(a, True))
    sql = _replace_fn_calls(sql, "min_by", lambda a: _by_n(a, False))
    sql = _replace_fn_calls(sql, "max", max_n)
    sql = _replace_fn_calls(sql, "min", min_n)
    return _replace_fn_calls(sql, "histogram", histogram)


# Java-regex metacharacters that change meaning when a literal delimiter is
# fed to a regex-based split.
_REGEX_SPECIALS = set("\\.[]{}()*+?^$|")


def _escape_regex_literal(lit: str) -> str:
    """SQL string-literal content → SQL literal content matching it verbatim
    as a Java regex (backslashes doubled for Spark's escaped literals)."""
    out = []
    for c in lit:
        if c in _REGEX_SPECIALS:
            out.append("\\\\" + c if c != "\\" else "\\\\\\\\")
        else:
            out.append(c)
    return "".join(out)


def _regex_capture_group_count(pat: str) -> int | None:
    """Number of CAPTURING groups in a regex literal: plain ``(`` and
    named ``(?<name>`` count; ``(?:`` ``(?=`` ``(?<=`` etc. don't;
    escaped parens and character classes are skipped. None when the
    text can't be scanned confidently."""
    n, i, in_class = 0, 0, False
    while i < len(pat):
        c = pat[i]
        if c == "\\":
            i += 2
            continue
        if in_class:
            if c == "]":
                in_class = False
            i += 1
            continue
        if c == "[":
            in_class = True
            i += 1
            continue
        if c == "(":
            if pat[i + 1 : i + 2] != "?":
                n += 1
            elif re.match(r"\?P?<[A-Za-z_]", pat[i + 1 : i + 4] + "   "):
                n += 1  # named group (not lookbehind (?<= / (?<!)
            i += 1
            continue
        i += 1
    return n


def _regex_groups_never_empty(pat: str) -> set[int]:
    """1-based indices of PLAIN capturing groups in ``pat`` that
    provably cannot match the empty string (Python re approximates the
    Java dialect here): for those, a '' group value at runtime implies
    the group did not PARTICIPATE in the match → NULL per Joni
    (RF179-184). Groups that can match empty, or whose body can't be
    scanned/compiled, are left alone (conservative '')."""
    out: set[int] = set()
    n, i, in_class = 0, 0, False
    while i < len(pat):
        c = pat[i]
        if c == "\\":
            i += 2
            continue
        if in_class:
            if c == "]":
                in_class = False
            i += 1
            continue
        if c == "[":
            in_class = True
            i += 1
            continue
        if c == "(":
            if pat[i + 1 : i + 2] != "?":
                n += 1
                # find the matching close paren (class/escape-aware)
                d, k, cls = 1, i + 1, False
                while k < len(pat) and d:
                    ck = pat[k]
                    if ck == "\\":
                        k += 2
                        continue
                    if cls:
                        cls = ck != "]"
                    elif ck == "[":
                        cls = True
                    elif ck == "(":
                        d += 1
                    elif ck == ")":
                        d -= 1
                    k += 1
                body = pat[i + 1 : k - 1]
                try:
                    if re.fullmatch(f"(?:{body})", "") is None:
                        out.add(n)
                except re.error:
                    pass
            elif re.match(r"\?P?<[A-Za-z_]", pat[i + 1 : i + 4] + "   "):
                n += 1
        i += 1
    return out


def _rewrite_regexp_replace_lambda(sql: str) -> str:
    """``regexp_replace(s, pattern, x -> body)``
    (JoniRegexpReplaceLambdaFunction): each match's CAPTURE GROUPS feed
    the lambda, whose result replaces the match; a NULL replacement
    nulls the whole string. Pure-JVM composition: split() yields the
    unmatched segments, regexp_extract_all(…, g) yields per-match group
    values, and the user lambda applies via a single-element transform
    (Spark SQL cannot invoke a bare lambda). Needs a literal pattern to
    count groups. Groups that provably cannot match empty arrive as
    NULL when they did not participate (nullif — RF179-184); a pattern
    that can match EMPTY pads the split segments Java drops at the
    boundaries (RF169-171). Residual deviation: a non-participating
    group that can also match empty stays ''."""
    i = 0
    pat_re = re.compile(r"\bregexp_replace\s*\(", re.IGNORECASE)
    while True:
        m = _find_outside(pat_re, sql, i)
        if m is None:
            return sql
        j = _scan(sql).close(m.end())
        args = _scan(sql[m.end() : j - 1]).items()
        if len(args) != 3 or "->" not in args[2]:
            i = m.end()
            continue
        lm = re.match(r"(?s)\s*(\w+)\s*->\s*(.*)$", args[2])
        if lm is not None and re.fullmatch(
            r"(?is)\s*null\s*", args[1]
        ):
            # NULL pattern with a lambda replacement → NULL (RF195;
            # Spark's regexp_replace is not higher-order)
            rep = "CAST(NULL AS STRING)"
            sql = sql[: m.start()] + rep + sql[j:]
            i = m.start() + len(rep)
            continue
        pm = re.fullmatch(r"\s*'((?:[^']|'')*)'\s*", args[1])
        if lm is None or pm is None:
            i = m.end()
            continue
        s, p = args[0].strip(), args[1].strip()
        # group scanning over the user's original text (backslash-doubling
        # already applied by the first pass — undo for the scan)
        clean_pat = pm.group(1).replace("''", "'").replace("\\\\", "\\")
        gc = _regex_capture_group_count(clean_pat)
        if gc is None:
            i = m.end()
            continue
        never_empty = _regex_groups_never_empty(clean_pat)
        try:
            pat_matches_empty = (
                re.fullmatch(f"(?:{clean_pat})", "") is not None
            )
        except re.error:
            pat_matches_empty = False
        var, body = lm.group(1), lm.group(2)
        groups = ", ".join(
            f"nullif(element_at(regexp_extract_all(({s}), {p}, {g}),"
            f" __rri), '')"
            if g in never_empty
            else f"element_at(regexp_extract_all(({s}), {p}, {g}), __rri)"
            for g in range(1, gc + 1)
        )
        garr = (
            f"array({groups})" if gc else "CAST(array() AS ARRAY<STRING>)"
        )
        applied = (
            f"element_at(transform(array({garr}), "
            f"{var} -> ({body})), 1)"
        )
        segs = f"split(({s}), {p}, -1)"
        if pat_matches_empty:
            # Java split drops boundary segments at zero-width matches;
            # Presto keeps them — pad to exactly matches+1 segments
            nm = f"size(regexp_extract_all(({s}), {p}, 0))"
            segs = (
                f"(CASE WHEN size({segs}) = {nm} + 1 THEN {segs} "
                f"WHEN size({segs}) = {nm} THEN concat(array(''), {segs}) "
                f"ELSE concat(array(''), {segs}, array('')) END)"
            )
        rep = (
            f"(CASE WHEN ({s}) IS NULL OR ({p}) IS NULL THEN NULL "
            f"WHEN size(regexp_extract_all(({s}), {p}, 0)) = 0 THEN ({s}) "
            f"ELSE aggregate("
            f"sequence(1, size(regexp_extract_all(({s}), {p}, 0))), "
            f"CAST(element_at({segs}, 1) AS STRING), "
            f"(__rra, __rri) -> concat(__rra, {applied}, "
            f"element_at({segs}, __rri + 1))) END)"
        )
        sql = sql[: m.start()] + rep + sql[j:]
        i = m.start() + len(rep)


def _rewrite_regex_arg_defaults(sql: str) -> str:
    """Presto split(s, delim) splits on a LITERAL delimiter
    (StringFunctions.java:split) — Spark's split() is regex-based, a silent
    wrong answer for delimiters like '.'. When the delimiter is a plain
    string literal, escape its regex metacharacters. Also: Presto's 2-arg
    regexp_extract/regexp_extract_all default to group 0 (the full match,
    Re2JRegexpFunctions); Spark defaults to group 1 — pin the 0."""

    def fix_split(args):
        if len(args) >= 2 and re.fullmatch(r"'[^']*'", args[1]):
            inner = args[1][1:-1]
            esc = _escape_regex_literal(inner)
            if esc != inner:
                return [args[0], f"'{esc}'", *args[2:]]
        return None

    def add_group0(args):
        return [*args, "0"] if len(args) == 2 else None

    def add_empty_replacement(args):
        # Presto's 2-arg regexp_replace removes matches
        # (JoniRegexpFunctions regexpReplace(source, pattern))
        return [*args, "''"] if len(args) == 2 else None

    sql = _map_fn_args(sql, "split", fix_split)
    sql = _map_fn_args(sql, "regexp_extract_all", add_group0)
    sql = _map_fn_args(sql, "regexp_replace", add_empty_replacement)
    sql = _map_fn_args(sql, "regexp_extract", add_group0)

    # Presto regexp_extract returns NULL when the pattern does not match
    # (JoniRegexpFunctions.regexpExtract; TestRegexpFunctions:212-213);
    # Spark returns ''. A match guard — not nullif(…,'') — since a group
    # can legitimately match empty. For a literal pattern whose group g
    # provably CANNOT match empty (e.g. the alternation branch groups in
    # TestRegexpFunctions:212), a '' result implies the group did not
    # PARTICIPATE in the match → NULL per Joni, exactly as the
    # regexp_replace-lambda lowering already does (RF179-184/RF212).
    # Residual deviation: only can-match-empty non-participating groups
    # still yield '' (no reference assert pins one). Marker two-pass (a
    # builder may never emit its own name).
    def extract_null_guard(a):
        if len(a) != 3:
            return None
        s, p, g = (x.strip() for x in a)
        inner = f"__prext(({s}), ({p}), {g})"
        pm = re.fullmatch(r"'((?:[^']|'')*)'", p)
        if pm and re.fullmatch(r"\d+", g):
            # undo the first-pass backslash doubling for the scan
            clean_pat = pm.group(1).replace("''", "'").replace("\\\\", "\\")
            if int(g) in _regex_groups_never_empty(clean_pat):
                inner = f"nullif({inner}, '')"
        return (
            f"CASE WHEN regexp_like(({s}), ({p})) "
            f"THEN {inner} ELSE NULL END"
        )

    # the same never-empty → NULL mapping per ELEMENT for the _all form
    # (TestRegexpFunctions:226 — REGEXP_EXTRACT_ALL group 2 of the
    # unmatched alternation branch yields [null])
    def extract_all_null_guard(a):
        if len(a) != 3:
            return None
        s, p, g = (x.strip() for x in a)
        pm = re.fullmatch(r"'((?:[^']|'')*)'", p)
        if pm and re.fullmatch(r"\d+", g):
            clean_pat = pm.group(1).replace("''", "'").replace("\\\\", "\\")
            if int(g) in _regex_groups_never_empty(clean_pat):
                return (
                    f"transform(__prextall(({s}), ({p}), {g}), "
                    f"__rx -> nullif(__rx, ''))"
                )
        return None

    sql = _replace_fn_calls(
        sql, "regexp_extract_all", extract_all_null_guard
    )
    sql = _replace_fn_calls(
        sql,
        "__prextall",
        lambda a: f"regexp_extract_all({a[0]}, {a[1]}, {a[2]})",
    )
    sql = _replace_fn_calls(sql, "regexp_extract", extract_null_guard)
    return _replace_fn_calls(
        sql,
        "__prext",
        lambda a: f"regexp_extract({a[0]}, {a[1]}, {a[2]})",
    )


_ORDER_BY_RE = re.compile(r"\bORDER\s+BY\s+", re.IGNORECASE)
# Words that terminate an ORDER BY item list at depth 0.
_ORDER_CLAUSE_END = re.compile(
    r"(?<!\w)(LIMIT|OFFSET|FETCH|ROWS|RANGE|WINDOW|UNION|INTERSECT|EXCEPT"
    r"|HAVING)\b",
    re.IGNORECASE,
)


def _rewrite_order_by_nulls(sql: str) -> str:
    """Presto's default null ordering is NULLS LAST for BOTH directions
    (QueryPlanner.toSortOrder — undefined → *_NULLS_LAST); Spark defaults
    ascending sorts to NULLS FIRST. Append NULLS LAST to every ORDER BY
    item (top-level and window specs) that doesn't spell an explicit
    NULLS FIRST/LAST — otherwise null rows silently change position."""
    out: list[str] = []
    pos = 0
    while True:
        m = _find_outside(_ORDER_BY_RE, sql, pos)
        if m is None:
            out.append(sql[pos:])
            return "".join(out)
        out.append(sql[pos : m.end()])
        # item spans until clause end / unbalanced ')' / EOF
        spans = _scan(sql).run(m.end(), _ORDER_CLAUSE_END)
        pieces = []
        for a, b in spans:
            item = sql[a:b]
            stripped = item.rstrip()
            if stripped and not re.search(r"\bNULLS\s+(FIRST|LAST)\s*$",
                                          stripped, re.IGNORECASE):
                item = stripped + " NULLS LAST" + item[len(stripped):]
            pieces.append(item)
        out.append(",".join(pieces))
        pos = spans[-1][1]


# Presto `/` on two integers is integer division (5/2 = 2); Spark's `/`
# always yields double. Full parity needs type inference, but the
# integer-LITERAL / integer-LITERAL case is decidable textually → DIV
# (which, like Presto, truncates toward zero and errors on /0 under ANSI).
# Column-typed division remains a documented deviation (README).
# Typed integer literals (INTEGER'37', TINYINT '5') divide integrally
# too — they lower to CASTs only at the end of the pipeline.
_TYPED_INT_LIT = r"(?:TINYINT|SMALLINT|INTEGER|INT|BIGINT)\s*'\s*-?\d+\s*'"
_INT_DIV_RE = re.compile(
    rf"(?<![\w.])({_TYPED_INT_LIT}|\d+)\s*/\s*({_TYPED_INT_LIT}|\d+)"
    r"(?![\w.])",
    re.IGNORECASE,
)


def _rewrite_int_literal_division(sql: str) -> str:
    # full-text scan with a mask check at the match start: the typed
    # literal alternatives CONTAIN string literals, so chunked
    # outside-literal application could never see them whole
    mask = _literal_mask(sql)

    def sub(m: re.Match) -> str:
        if mask[m.start()]:
            return m.group(0)
        return f"({m.group(1)} DIV {m.group(2)})"

    return _INT_DIV_RE.sub(sub, sql)


# operand: a bare (possibly qualified) identifier or an integer literal
_COL_DIV_RE = re.compile(
    r"(?<![\w.)\]])([A-Za-z_][\w.]*|\d+)\s*/\s*([A-Za-z_][\w.]*|\d+)(?![\w.(])"
)

# aggregate calls whose result is integral when the argument is:
# count(anything) always; sum/min/max of an integral column / int literal
_INT_AGG_CALL_RE = re.compile(r"\b(count|sum|min|max)\s*\(", re.IGNORECASE)
_IDENT_FULL_RE = re.compile(r"[A-Za-z_][\w.]*")
_INT_LIT_FULL_RE = re.compile(r"[+-]?\d+")


def _integral_agg_spans(
    sql: str, mask: list, int_cols: frozenset
) -> dict[int, int]:
    """{start: end} spans of aggregate calls with a provably-integral
    result (Presto: count → bigint always; sum/min/max preserve an
    integral argument type — FunctionRegistry standard aggregates)."""
    spans: dict[int, int] = {}
    for m in _INT_AGG_CALL_RE.finditer(sql):
        if mask[m.start()]:
            continue
        end = _scan(sql).close(m.end())
        fn = m.group(1).lower()
        if fn == "count":
            spans[m.start()] = end
            continue
        inner = sql[m.end() : end - 1].strip()
        inner = re.sub(
            r"^(?:DISTINCT|ALL)\s+", "", inner, flags=re.IGNORECASE
        )
        if _INT_LIT_FULL_RE.fullmatch(inner) or (
            _IDENT_FULL_RE.fullmatch(inner)
            and inner.rsplit(".", 1)[-1].lower() in int_cols
        ):
            spans[m.start()] = end
    return spans


def _rewrite_integral_agg_division(sql: str, int_cols: frozenset) -> str:
    """Presto integer division when one operand of ``/`` is an integral
    AGGREGATE call (``sum(a)/2``, ``count(*)/n``, ``min(k)/max(k)``) and
    the other is an integral aggregate, integral column, or int literal.
    The simple-identifier pass (_COL_DIV_RE) can't see call operands, so
    this pass scans each depth-aware ``/`` with a matched-paren walk.
    Chained divisions keep the existing complex-operand gap."""
    mask = _literal_mask(sql)
    spans = _integral_agg_spans(sql, mask, int_cols)
    if not spans:
        return sql
    ends = {e: s for s, e in spans.items()}

    def _int_simple(tok: str) -> bool:
        return tok.isdigit() or tok.rsplit(".", 1)[-1].lower() in int_cols

    # (left_start, slash_pos, right_end) for each rewritable L / R
    edits: list[tuple[int, int, int]] = []
    for dm in re.finditer(r"/", sql):
        i = dm.start()
        if mask[i] or (i and sql[i - 1] == "/") or sql[i + 1 : i + 2] == "/":
            continue
        # left operand: an integral-agg span ending here, or a simple token
        j = i
        while j > 0 and sql[j - 1].isspace():
            j -= 1
        left = None
        if j in ends:
            left = (ends[j], j, True)
        else:
            k = j
            while k > 0 and (sql[k - 1].isalnum() or sql[k - 1] in "_."):
                k -= 1
            tok = sql[k:j]
            if tok and not (k and sql[k - 1] in ")]'\"") and (
                tok.isdigit() or _IDENT_FULL_RE.fullmatch(tok)
            ):
                left = (k, j, _int_simple(tok))
        if left is None:
            continue
        # right operand: an integral-agg span starting here, or a token
        j = i + 1
        while j < len(sql) and sql[j].isspace():
            j += 1
        right = None
        if j in spans:
            right = (j, spans[j], True)
        else:
            k = j
            while k < len(sql) and (sql[k].isalnum() or sql[k] in "_."):
                k += 1
            tok = sql[j:k]
            if tok and sql[k : k + 1] != "(" and (
                tok.isdigit() or _IDENT_FULL_RE.fullmatch(tok)
            ):
                right = (j, k, _int_simple(tok))
        if right is None:
            continue
        # a surrounding same-precedence operator changes the grouping
        # Presto would use ('1.0 * sum(a) / 2' parses as (1.0*sum(a))/2;
        # 'sum(a)/count(*)/3' left-associates) — a textual (L DIV R)
        # would regroup, so bail and leave the chain to the documented
        # complex-operand gap
        p = left[0] - 1
        while p >= 0 and sql[p].isspace():
            p -= 1
        if p >= 0 and sql[p] in "*/%":
            continue
        p = right[1]
        while p < len(sql) and sql[p].isspace():
            p += 1
        if p < len(sql) and sql[p] in "*/%":
            continue
        # at least one side must be an aggregate call (simple/simple is
        # _COL_DIV_RE's job, with its own context guards); both integral
        if (left[1] in ends or right[0] in spans) and left[2] and right[2]:
            edits.append((left[0], i, right[1]))
    # overlap resolution keeps the LEFTMOST edit (matches Presto's
    # left-associative parse); survivors are then applied right-to-left
    # so earlier spans stay valid
    kept: list[tuple[int, int, int]] = []
    last_end = -1
    for ls, di, re_ in sorted(edits):
        if ls < last_end:
            continue
        last_end = re_
        kept.append((ls, di, re_))
    for ls, di, re_ in reversed(kept):
        sql = (
            sql[:ls]
            + "("
            + sql[ls:di].rstrip()
            + " DIV "
            + sql[di + 1 : re_].lstrip()
            + ")"
            + sql[re_:]
        )
    return sql


# Presto CAST(double AS BIGINT) rounds HALF_UP — half away from zero
# (DoubleOperators.java:231 castToLong: DoubleMath.roundToLong(value,
# HALF_UP)); Spark's cast truncates and DuckDB rounds half-even, so BOTH
# engine and oracle apply this schema-aware lowering (duck_int_division
# chains it).  A cast whose operand is PROVABLY double becomes the
# sign-split expression
#     CASE WHEN (e) >= 0 THEN FLOOR((e) + 0.5) ELSE CEIL((e) - 0.5) END
# which is portable across Spark (floor(double) → bigint) and DuckDB
# (floor → double, re-cast exact).  Exactness caveat: within 1 ULP of
# 2^63 the +0.5 is absorbed by the addition — documented (README).
_CAST_CALL_RE = re.compile(r"\b(TRY_CAST|CAST)\s*\(", re.IGNORECASE)
# fns returning DOUBLE regardless of argument type (MathFunctions.java)
_ALWAYS_DOUBLE_FNS = {
    "sqrt", "cbrt", "ln", "log2", "log10", "exp", "pi", "e", "radians",
    "degrees", "sin", "cos", "tan", "asin", "acos", "atan", "atan2",
    "sinh", "cosh", "tanh", "rand", "random", "infinity", "nan",
    "to_unixtime",
}
# fns preserving a double argument type (round/abs/sign; least/greatest)
_DOUBLE_PRESERVING_FNS = {"round", "abs", "sign", "least", "greatest"}
_ARITH_OPS = "+-*/%"


def _top_level_arith_parts(e: str) -> list[str]:
    """Split on top-level binary + - * / % (literal- and paren-aware);
    unary +/- (operator-or-start preceded) do not split."""
    sc, parts, start, prev = _scan(e), [], 0, ""
    for i, c in enumerate(e):
        if c in _ARITH_OPS and sc.top(i, "(["):
            if c in "+-" and (not prev or prev in "(,+-*/%<>="):
                pass  # unary sign
            elif c == "/" and (e[i - 1 : i] == "/" or e[i + 1 : i + 2] == "/"):
                pass
            else:
                parts.append(e[start:i])
                start = i + 1
        if not c.isspace():
            prev = c
    parts.append(e[start:])
    return parts


def _provably_double(e: str, double_cols: frozenset) -> bool:
    e = e.strip()
    if not e:
        return False
    while e.startswith("("):
        close = _scan(e).close(1)
        if close == len(e):
            e = e[1:-1].strip()
            if not e:
                return False
        else:
            break
    parts = _top_level_arith_parts(e)
    if len(parts) > 1:
        # a Presto arithmetic expr is double iff any operand is double
        # (the statement type-checked in Presto, so operands are numeric)
        return any(_provably_double(p, double_cols) for p in parts)
    if e[0] in "+-":
        return _provably_double(e[1:], double_cols)
    m = re.match(r"([A-Za-z_]\w*)\s*\(", e)
    if m and _scan(e).close(m.end()) == len(e):
        fn = m.group(1).lower()
        inner = e[m.end() : -1]
        if fn in _ALWAYS_DOUBLE_FNS:
            return True
        if fn in _DOUBLE_PRESERVING_FNS:
            args = _scan(inner).items()
            return bool(args) and any(
                _provably_double(a, double_cols) for a in args
            )
        if fn in ("cast", "try_cast"):
            return bool(
                re.search(
                    r"\bAS\s+(?:DOUBLE|FLOAT|REAL)\s*$",
                    inner,
                    re.IGNORECASE,
                )
            )
        return False
    if _IDENT_FULL_RE.fullmatch(e):
        return e.rsplit(".", 1)[-1].lower() in double_cols
    # typed REAL/DOUBLE literals are double-family
    if re.fullmatch(r"(?is)(?:REAL|DOUBLE)\s*'[^']*'", e):
        return True
    # exponent-form literal is DOUBLE in Presto (plain 1.5 is DECIMAL)
    return bool(re.fullmatch(r"\d+(?:\.\d+)?[eE][+-]?\d+", e))


_SIMPLE_DIV_RE = re.compile(
    r"(?<![\w.'])((?:REAL|DOUBLE)\s*'[^']*'"
    r"|(?:\d+\.?\d*(?:[eE][+-]?\d+)?)|[A-Za-z_][\w.]*)"
    r"\s*/\s*"
    r"((?:REAL|DOUBLE)\s*'[^']*'"
    r"|(?:\d+\.?\d*(?:[eE][+-]?\d+)?)|[A-Za-z_][\w.]*)(?![\w.('])"
)


def rewrite_double_div_ieee(sql: str, double_cols: frozenset) -> str:
    """Presto double division is IEEE-754 (x/0 → ±Infinity, 0/0 → NaN;
    DoubleOperators.divide); Spark under ANSI raises DIVIDE_BY_ZERO.
    For divisions whose operands are simple tokens with a provably
    double side, guard the zero divisor with the IEEE result
    (x * Infinity: +x → Inf, -x → -Inf, 0/NaN → NaN). The ELSE arm's
    parenthesized operands no longer match the simple-token shape, so
    the emitted text never re-rewrites."""
    if "/" not in sql:
        return sql
    mask = _literal_mask(sql)
    out, last = [], 0
    for m in _SIMPLE_DIV_RE.finditer(sql):
        if mask[m.start()]:
            continue
        x, y = m.group(1), m.group(2)
        if not (
            _provably_double(x, double_cols)
            or _provably_double(y, double_cols)
        ):
            continue
        rep = (
            f"CASE WHEN ({y}) = 0.0E0 THEN ({x}) * "
            f"CAST('Infinity' AS DOUBLE) ELSE ({x}) / ({y}) END"
        )
        out.append(sql[last : m.start()])
        out.append(rep)
        last = m.end()
    out.append(sql[last:])
    return "".join(out)


def infer_derived_double_aliases(
    sql: str, double_cols: frozenset
) -> frozenset:
    """Statement-local alias names whose defining expression is provably
    double — widens the CAST(double AS BIGINT) HALF_UP proof set across
    subquery-alias boundaries. Iterated to a FIXPOINT (bounded by the
    alias count) so nested derived tables and CTE-of-CTE chains resolve
    at any depth (round 9; previously capped at two levels). Callers
    subtract catalog names voted non-double (a collision must not round
    a non-double column)."""
    found: set[str] = set()
    aliases = _derived_select_aliases(sql)
    for _ in range(max(len(aliases), 1)):
        grew = False
        pool = double_cols | frozenset(found)
        for expr, alias in aliases:
            if alias not in found and _provably_double(expr, pool):
                found.add(alias)
                grew = True
        if not grew:
            break
    return frozenset(found)


def rewrite_double_bigint_cast(sql: str, double_cols: frozenset) -> str:
    """Lower ``CAST(<provably-double> AS BIGINT)`` (and TRY_CAST) to
    Presto's HALF_UP rounding.  Outermost casts only — a nested
    double→bigint cast inside the operand stays truncating (no such
    shape in the corpus; avoids overlapping text edits)."""
    # no early-out on empty double_cols: literal operands
    # (cast(37.7E0 as bigint)) are provably double on their own
    mask = _literal_mask(sql)
    edits: list[tuple[int, int, str]] = []
    last_end = -1
    for m in _CAST_CALL_RE.finditer(sql):
        if mask[m.start()] or m.start() < last_end:
            continue
        end = _scan(sql).close(m.end())
        inner = sql[m.end() : end - 1]
        as_pos = _scan(inner).last_top(_AS_RE, "([")
        if as_pos is None:
            continue
        if inner[as_pos + 2 :].strip().upper() != "BIGINT":
            continue
        operand = inner[:as_pos].strip()
        if not _provably_double(operand, double_cols):
            continue
        expr = (
            f"CASE WHEN ({operand}) >= 0 THEN FLOOR(({operand}) + 0.5) "
            f"ELSE CEIL(({operand}) - 0.5) END"
        )
        edits.append((m.start(), end, f"{m.group(1)}({expr} AS BIGINT)"))
        last_end = end
    for s, e, rep in reversed(edits):
        sql = sql[:s] + rep + sql[e:]
    return sql


_HOF_DBL_HEAD_RE = re.compile(
    r"\b(transform|filter|apply|map_zip_with)\s*\(", re.IGNORECASE
)


def _int_literal_map_values(e: str) -> bool:
    """True for ``map_from_arrays(array(...), array(<all int
    literals>))`` / the MAP(ARRAY[..],ARRAY[..]) pre-lowered form."""
    m = re.fullmatch(
        r"(?is)(?:map_from_arrays|map)\s*\((.*)\)", e.strip()
    )
    if not m:
        return False
    args = _scan(m.group(1)).items()
    if len(args) != 2:
        return False
    vm = re.fullmatch(r"(?is)ARRAY\s*[\[(](.*)[\])]", args[1].strip())
    if not vm or not vm.group(1).strip():
        return False
    return all(
        re.fullmatch(r"\s*-?\d+\s*", x)
        for x in _scan(vm.group(1)).items()
    )


def _all_double_array_literal(e: str) -> bool:
    """True for ``array(25.6E0, 27.3E0)`` / ``ARRAY[…]`` whose elements
    are all provably double (exponent literals / double-typed exprs)."""
    m = re.fullmatch(r"(?is)ARRAY\s*[\[(](.*)[\])]", e.strip())
    if not m or not m.group(1).strip():
        return False
    return all(
        _provably_double(a, frozenset())
        or re.fullmatch(r"(?is)\s*NULL\s*", a)
        for a in _scan(m.group(1)).items()
    )


def rewrite_lambda_double_casts(sql: str) -> str:
    """Extend the provable-double HALF_UP lowering into HOF lambda
    scopes: ``transform(ARRAY[25.6E0, …], x -> CAST(x AS BIGINT))`` and
    ``apply(25.6E0, x -> …)`` round half-up like Presto
    (MathFunctions doubleToBigint), not truncate."""
    i = 0
    while True:
        m = _find_outside(_HOF_DBL_HEAD_RE, sql, i)
        if m is None:
            return sql
        j = _scan(sql).close(m.end())
        args = _scan(sql[m.end() : j - 1]).items()
        fn = m.group(1).lower()
        if fn == "map_zip_with":
            # int-literal map values → integral division inside the
            # 3-var lambda (v1/v2 is Presto integer division there)
            if len(args) != 3:
                i = m.end()
                continue
            lm = re.match(
                r"(?s)\s*\(\s*(\w+)\s*,\s*(\w+)\s*,\s*(\w+)\s*\)"
                r"\s*->\s*(.*)$",
                args[2],
            )
            if (
                lm is None
                or not _int_literal_map_values(args[0])
                or not _int_literal_map_values(args[1])
            ):
                i = m.end()
                continue
            v1, v2, body = lm.group(2), lm.group(3), lm.group(4)
            new_body = rewrite_integral_column_division(
                body, frozenset({v1.lower(), v2.lower()})
            )
            if new_body == body:
                i = m.end()
                continue
            rep = (
                f"{m.group(1)}({args[0]}, {args[1]}, "
                f"({lm.group(1)}, {v1}, {v2}) -> {new_body})"
            )
            sql = sql[: m.start()] + rep + sql[j:]
            i = m.start() + len(rep)
            continue
        if len(args) != 2:
            i = m.end()
            continue
        src, lam = args[0].strip(), args[1]
        lm = re.match(r"(?s)\s*(\w+)\s*->\s*(.*)$", lam)
        if lm is None:
            i = m.end()
            continue
        var, body = lm.group(1), lm.group(2)
        is_dbl = (
            _provably_double(src, frozenset())
            if fn == "apply"
            else _all_double_array_literal(src)
        )
        if not is_dbl:
            i = m.end()
            continue
        new_body = rewrite_double_bigint_cast(
            body, frozenset({var.lower()})
        )
        if new_body == body:
            i = m.end()
            continue
        rep = f"{m.group(1)}({src}, {var} -> {new_body})"
        sql = sql[: m.start()] + rep + sql[j:]
        i = m.start() + len(rep)


def rewrite_double_round_half_up(sql: str, double_cols: frozenset) -> str:
    """ORACLE-side helper: Presto ``round(double)`` rounds HALF_UP
    (MathFunctions.java round — sign-split floor/ceil ±0.5) and Spark's
    round matches, but DuckDB rounds half-even; lower 1-arg round over a
    provably-double operand to the explicit expression so the DuckDB
    oracle agrees on .5 ties.  Not applied engine-side."""
    if not double_cols:
        return sql

    def build(args):
        if len(args) == 1 and _provably_double(args[0], double_cols):
            e = args[0].strip()
            return (
                f"CASE WHEN ({e}) >= 0 THEN FLOOR(({e}) + 0.5) "
                f"ELSE CEIL(({e}) - 0.5) END"
            )
        return None

    return _replace_fn_calls(sql, "round", build)


_INT_CELL_RE = re.compile(r"^\s*[+-]?\d+\s*$")
_TYPED_INT_CELL_RE = re.compile(
    r"^\s*(TINYINT|SMALLINT|INTEGER|INT|BIGINT)\s+'[+-]?\d+'\s*$",
    re.IGNORECASE,
)
_NULL_CELL_RE = re.compile(r"^\s*NULL\s*$", re.IGNORECASE)
_VALUES_KW_RE = re.compile(r"\bVALUES\b", re.IGNORECASE)


def infer_values_int_cols(sql: str) -> frozenset:
    """Column names of inline ``(VALUES …) alias(c1, …)`` relations whose
    every cell at that position is an integer literal (or NULL) — feeds
    the Presto integer-division rewrite for queries over inline tables,
    where the catalog can't supply types. Conservative: any
    non-provably-integral cell, arity mismatch, or conflicting vote
    across VALUES relations in the statement drops the name."""
    mask = _literal_mask(sql)
    votes: dict[str, set[bool]] = {}
    for m in _VALUES_KW_RE.finditer(sql):
        if mask[m.start()]:
            continue
        j = m.start() - 1
        while j >= 0 and sql[j].isspace():
            j -= 1
        if j < 0 or sql[j] != "(":
            continue
        close = _scan(sql).close(j + 1)
        body = sql[m.end() : close - 1]
        am = re.match(
            r"\s*(?:AS\s+)?\w+\s*\(([^()]*)\)", sql[close:], re.IGNORECASE
        )
        if am is None:
            continue
        names = [c.strip().lower() for c in am.group(1).split(",")]
        col_int: list[bool | None] = [None] * len(names)
        ok = True
        for item in _scan(body).items():
            item = re.sub(r"^\s*ROW\s*\(", "(", item, flags=re.IGNORECASE)
            if item.startswith("(") and _scan(item).close(1) == len(
                item
            ):
                cells = _scan(item[1:-1]).items()
            else:
                cells = [item]
            if len(cells) != len(names):
                ok = False
                break
            for i, cell in enumerate(cells):
                if _NULL_CELL_RE.match(cell):
                    continue
                is_int = bool(
                    _INT_CELL_RE.match(cell)
                    or _TYPED_INT_CELL_RE.match(cell)
                )
                col_int[i] = (
                    is_int if col_int[i] is None else (col_int[i] and is_int)
                )
        if not ok:
            continue
        for name, flag in zip(names, col_int):
            votes.setdefault(name, set()).add(bool(flag))
    return frozenset(n for n, v in votes.items() if v == {True})


def rewrite_integral_column_division(sql: str, int_cols: frozenset) -> str:
    """Presto integer division for COLUMN operands (BigintOperators.java
    divide: bigint/bigint truncates; Spark's ``/`` always returns double).

    Schema-aware: ``a / b`` becomes ``a DIV b`` when both operands are
    integer literals or identifiers whose (last-segment, lowercased) names
    are known integral columns — the caller (Engine) supplies ``int_cols``
    from its registered table schemas, omitting ambiguous names. Applies
    only to simple-identifier operands; complex expressions (and chained
    divisions, whose left side is no longer an identifier after one
    rewrite) pass through — documented gap.

    A second pass (_rewrite_integral_agg_division) extends the rule to
    integral AGGREGATE-call operands: ``sum(a)/2``, ``count(*)/n``,
    ``min(k)/max(k)`` truncate in Presto (count is bigint; sum/min/max
    preserve an integral argument type)."""
    sql = _rewrite_integral_agg_division(sql, int_cols)
    if not int_cols:
        return sql

    def _is_int(tok: str) -> bool:
        if tok.isdigit():
            return True
        return tok.rsplit(".", 1)[-1].lower() in int_cols

    def _sub(m: re.Match) -> str:
        a, b = m.group(1), m.group(2)
        if _is_int(a) and _is_int(b):
            return f"({a} DIV {b})"
        return m.group(0)

    return _apply_outside_literals(sql, lambda c: _COL_DIV_RE.sub(_sub, c))


# Spark has no TIME type; anchor Presto TIME literals on the epoch date so
# time-of-day arithmetic (time '01:00' + interval '3' hour, comparisons)
# keeps working. Rendering carries the 1970-01-01 date — documented gap.
_TIME_LIT_RE = re.compile(
    r"\bTIME\s+'(\d{1,2}:\d{2}(?::\d{2}(?:\.\d+)?)?)'", re.IGNORECASE
)


_IVL_UNIT_RANGE = (
    r"(YEAR\s+TO\s+MONTH|DAY\s+TO\s+(?:HOUR|MINUTE|SECOND)"
    r"|HOUR\s+TO\s+(?:MINUTE|SECOND)|MINUTE\s+TO\s+SECOND"
    r"|YEAR|MONTH|DAY|HOUR|MINUTE|SECOND)"
)


def _rewrite_time_literals(sql: str) -> str:
    return _TIME_LIT_RE.sub(r"TIMESTAMP '1970-01-01 \1'", sql)


_TIME_ARITH_RE = re.compile(
    r"\bTIME\s*'([^']*)'\s*([+-])\s*INTERVAL\s*'([^']*)'\s+"
    + _IVL_UNIT_RANGE,
    re.IGNORECASE,
)
_TIME_ARITH_REV_RE = re.compile(
    r"\bINTERVAL\s*'([^']*)'\s+" + _IVL_UNIT_RANGE
    + r"\s*\+\s*TIME\s*'([^']*)'",
    re.IGNORECASE,
)


def _time_lit_millis(t: str) -> int | None:
    m = re.fullmatch(
        r"\s*(\d{1,2}):(\d{1,2})(?::(\d{1,2})(?:\.(\d{1,3}))?)?\s*", t
    )
    if not m:
        return None
    return (
        (int(m.group(1)) * 60 + int(m.group(2))) * 60_000
        + int(m.group(3) or 0) * 1000
        + int((m.group(4) or "0").ljust(3, "0"))
    )


def _fold_time_interval_arith(sql: str) -> str:
    """``TIME ± INTERVAL`` stays a time-of-day: Presto's TimeOperators
    add the interval's milliseconds MODULO a day with positive wrap
    (TIME '03:04' + INTERVAL '27' HOUR = 06:04), and a year-month
    interval leaves the time unchanged (months carry no time-of-day).
    The epoch-anchored TIMESTAMP emulation would otherwise walk off
    1970-01-01. Folds literal TIME ± literal INTERVAL (both operand
    orders); non-literal TIME arithmetic has no fixture surface."""

    def fold(time_txt: str, op: str, ivl_body: str, unit: str):
        t = _time_lit_millis(time_txt)
        if t is None:
            return None
        iv = _interval_literal_millis(ivl_body, unit)
        if iv is None:
            first = " ".join(unit.upper().split()).split()[0]
            if first in ("YEAR", "MONTH"):
                iv = 0  # year-month interval: time-of-day unchanged
            else:
                return None
        res = (t + iv if op == "+" else t - iv) % 86_400_000
        hh, rem = divmod(res, 3_600_000)
        mm, rem = divmod(rem, 60_000)
        ss, ms = divmod(rem, 1000)
        return f"TIME '{hh:02d}:{mm:02d}:{ss:02d}.{ms:03d}'"

    def sub_fwd(m: re.Match) -> str:
        r = fold(m.group(1), m.group(2), m.group(3), m.group(4))
        return r if r is not None else m.group(0)

    def sub_rev(m: re.Match) -> str:
        r = fold(m.group(3), "+", m.group(1), m.group(2))
        return r if r is not None else m.group(0)

    prev = None
    while prev != sql:  # chains: TIME + iv + iv
        prev = sql
        sql = _TIME_ARITH_RE.sub(sub_fwd, sql)
        sql = _TIME_ARITH_REV_RE.sub(sub_rev, sql)
    return sql


def _rewrite_array_join_timestamps(sql: str) -> str:
    """``array_join`` over TIMESTAMP elements: Presto joins each
    element's VARCHAR cast ('yyyy-MM-dd HH:mm:ss.SSS'); Spark's implicit
    element cast drops the fraction. Pre-render elements when the array
    argument visibly carries TIMESTAMP values."""

    def fix(args):
        if len(args) not in (2, 3):
            return None
        if not re.search(r"(?i)\bTIMESTAMP\s*'", args[0]):
            return None
        arr = (
            f"transform({args[0]}, __aj -> "
            f"__spark_date_format(__aj, 'yyyy-MM-dd HH:mm:ss.SSS'))"
        )
        return [arr, *args[1:]]

    return _map_fn_args(sql, "array_join", fix)


_TIME_VC_RE = re.compile(
    r"\bCAST\s*\(\s*TIME\s*'([^']*)'\s+AS\s+VARCHAR(?:\s*\(\s*\d+\s*\))?"
    r"\s*\)",
    re.IGNORECASE,
)
_IVL_VC_RE = re.compile(
    r"\bCAST\s*\(\s*INTERVAL\s*'([^']*)'\s+" + _IVL_UNIT_RANGE +
    r"\s+AS\s+VARCHAR(?:\s*\(\s*\d+\s*\))?\s*\)",
    re.IGNORECASE,
)
_IVL_LIT_RE = re.compile(
    r"\bINTERVAL\s*'([^']*)'\s+" + _IVL_UNIT_RANGE, re.IGNORECASE
)


def _interval_literal_millis(body: str, unit: str) -> int | None:
    """Presto day-time interval literal text + unit range → total
    milliseconds (IntervalLiteral/SqlIntervalDayTime parsing: the text's
    fields bind to units starting at the range's FIRST unit, missing
    lower fields are zero — INTERVAL '12' DAY TO MINUTE is 12 days,
    INTERVAL '10:45' HOUR TO SECOND is 10h45m). None when the text
    doesn't parse or the unit is year-month."""
    unit = " ".join(unit.upper().split())
    first = unit.split()[0]
    if first in ("YEAR", "MONTH"):
        return None
    sign = -1 if body.strip().startswith("-") else 1
    b = body.strip().lstrip("+-").strip()
    order = ["DAY", "HOUR", "MINUTE", "SECOND"]
    idx = order.index(first)
    vals = {"DAY": 0, "HOUR": 0, "MINUTE": 0, "SECOND": 0}
    ms = 0
    parts = [p for p in re.split(r"[ :]+", b) if p]
    for p in parts:
        if idx >= len(order):
            return None
        u = order[idx]
        if "." in p:
            if u != "SECOND":
                return None
            whole, frac = p.split(".", 1)
            if not whole.isdigit() or not frac.isdigit():
                return None
            vals[u] = int(whole)
            ms = int(frac.ljust(3, "0")[:3])
        elif p.isdigit():
            vals[u] = int(p)
        else:
            return None
        idx += 1
    return sign * (
        ((vals["DAY"] * 24 + vals["HOUR"]) * 60 + vals["MINUTE"]) * 60_000
        + vals["SECOND"] * 1000
        + ms
    )


_TS_LIT_RE = re.compile(r"(?is)\bTIMESTAMP\s*'([^']*)'")


def _render_presto_ts(lit: str) -> str | None:
    """'2016-01-02 01:02:03[.f]' → Presto's exactly-three-fraction-digit
    varchar rendering (TimestampOperators.castToSlice)."""
    m = re.fullmatch(
        r"\s*(\d{4}-\d{2}-\d{2}) (\d{1,2}):(\d{1,2})(?::(\d{1,2})"
        r"(?:\.(\d{1,6}))?)?\s*",
        lit,
    )
    if not m:
        return None
    frac = (m.group(5) or "0").ljust(3, "0")[:3]
    return (
        f"{m.group(1)} {int(m.group(2)):02d}:{int(m.group(3)):02d}:"
        f"{int(m.group(4) or 0):02d}.{frac}"
    )


def _fold_ts_literals_in_varchar_container_casts(sql: str) -> str:
    """TIMESTAMP literals inside a CAST whose container target renders
    them as varchar — ``CAST(MAP(…, ARRAY[TIMESTAMP '…']) AS
    MAP(bigint, varchar))`` (MO826) — pre-render to Presto's
    three-fraction-digit form; Spark's container cast drops the '.000'."""

    def build(a):
        if len(a) != 1:
            return None
        e = a[0]
        as_pos = _scan(e).last_top(_SPACED_AS_RE, "([<")
        if as_pos is None:
            return None
        operand, target = e[:as_pos], e[as_pos + 4 :]
        t = " ".join(target.upper().split())
        if not re.fullmatch(
            r"MAP\s*[(<]\s*\w+\s*,\s*VARCHAR\s*[)>]"
            r"|ARRAY\s*[(<]\s*VARCHAR\s*[)>]",
            t,
        ):
            return None
        changed = False

        def sub(m):
            nonlocal changed
            r = _render_presto_ts(m.group(1))
            if r is None:
                return m.group(0)
            changed = True
            return f"'{r}'"

        new_op = _TS_LIT_RE.sub(sub, operand)
        if not changed:
            return None
        return f"CAST({new_op} AS {target})"

    return _replace_fn_calls(sql, "cast", build)


def _fold_temporal_literal_varchar_casts(sql: str) -> str:
    """TIME / INTERVAL literal → VARCHAR casts fold to Presto's
    renderings (TimeOperators.castToSlice 'HH:mm:ss.SSS';
    IntervalYearMonth/DayTime toString 'Y-M' / 'D HH:MM:SS.mmm' with
    unit normalization — Spark renders its own INTERVAL syntax and
    rejects out-of-range components like '124-30')."""

    def time_sub(m: re.Match) -> str:
        t = m.group(1).strip()
        tm = re.fullmatch(
            r"(\d{1,2}):(\d{1,2})(?::(\d{1,2})(?:\.(\d{1,3}))?)?", t
        )
        if not tm:
            return m.group(0)
        h, mi = int(tm.group(1)), int(tm.group(2))
        s = int(tm.group(3) or 0)
        ms = int((tm.group(4) or "0").ljust(3, "0"))
        return f"'{h:02d}:{mi:02d}:{s:02d}.{ms:03d}'"

    sql = _TIME_VC_RE.sub(time_sub, sql)

    def ivl_sub(m: re.Match) -> str:
        body, unit = m.group(1).strip(), " ".join(m.group(2).upper().split())
        sign = -1 if body.startswith("-") else 1
        b = body.lstrip("+-")
        if unit in ("YEAR TO MONTH", "YEAR", "MONTH"):
            ym = re.fullmatch(r"(\d+)(?:-(\d+))?", b)
            if not ym:
                return m.group(0)
            if unit == "MONTH" and ym.group(2) is None:
                months = int(ym.group(1))
            else:
                months = int(ym.group(1)) * 12 + int(ym.group(2) or 0)
            months *= sign
            s = "-" if months < 0 else ""
            months = abs(months)
            return f"'{s}{months // 12}-{months % 12}'"
        total_ms = _interval_literal_millis(body, unit)
        if total_ms is None:
            return m.group(0)
        return f"'{_render_presto_interval_dts(total_ms)}'"

    return _IVL_VC_RE.sub(ivl_sub, sql)


def _render_presto_interval_dts(total_ms: int) -> str:
    """IntervalDayTime.formatMillis: '%s%d %02d:%02d:%02d.%03d'."""
    s = "-" if total_ms < 0 else ""
    total_ms = abs(total_ms)
    d, rem = divmod(total_ms, 86_400_000)
    hh, rem = divmod(rem, 3_600_000)
    mm2, rem = divmod(rem, 60_000)
    ss, mss = divmod(rem, 1000)
    return f"{s}{d} {hh:02d}:{mm2:02d}:{ss:02d}.{mss:03d}"


_IVL_VALUES_ALIAS_WITH_RE = re.compile(
    r"\b(\w+)\s*\(([^()]*)\)\s+AS\s*\(\s*VALUES\b", re.IGNORECASE
)
_IVL_VALUES_ALIAS_INLINE_RE = re.compile(
    r"\(\s*VALUES\b", re.IGNORECASE
)
_IVL_ONLY_LIT_RE = re.compile(
    r"INTERVAL\s*'[^']*'\s+" + _IVL_UNIT_RANGE + r"\s*\Z", re.IGNORECASE
)
_IVL_AGG_WRAP_RE = re.compile(
    r"(?:MIN|MAX|SUM|GREATEST|LEAST|COALESCE|TRY)\s*\((.*)\)\s*\Z",
    re.IGNORECASE | re.DOTALL,
)
_IVL_IDENT_RE = re.compile(
    r"(?:\w+\s*\.\s*)*?(?:(\w+)\s*\.\s*)?(\w+)\s*\Z"
)


_IVL_VALUES_END_RE = re.compile(
    r"(ORDER|LIMIT|UNION|EXCEPT|INTERSECT|WHERE)\b", re.IGNORECASE
)


def _interval_values_column_pools(sql: str) -> dict[str, str]:
    """Column names bound by a VALUES alias (``WITH t(a, b) AS (VALUES
    ...)`` or ``(VALUES ...) t(a, b)``) whose items are all interval
    literals (or NULL) of one family → {name: 'dts'|'ym'}. A name bound
    to conflicting families (or to a non-interval position under another
    alias) is dropped — same statement-local-pool idiom as
    ``_provably_double``."""
    pools: dict[str, str | None] = {}

    def classify_item(item: str) -> str | None:
        s = item.strip()
        if re.fullmatch(r"NULL", s, re.IGNORECASE):
            return "null"
        if re.fullmatch(r"TIMESTAMP\s*'[^']*'", s, re.IGNORECASE):
            return "ts"
        m = _IVL_ONLY_LIT_RE.match(s)
        if m is None:
            return None
        first = m.group(1).upper().split()[0]
        return "ym" if first in ("YEAR", "MONTH") else "dts"

    def scan_values(start: int) -> list[str] | None:
        """From just past the VALUES keyword: per-column family over all
        rows, or None when any position mixes families/non-intervals."""
        spans = _scan(sql).run(start, _IVL_VALUES_END_RE)
        rows = [sql[a:b] for a, b in spans]
        fams: list[str] = []
        for row in rows:
            r = row.strip()
            if r.startswith("(") and r.endswith(")"):
                r = r[1:-1]
            items = _scan(r).split(",")
            for ci, item in enumerate(items):
                f = classify_item(item)
                while len(fams) <= ci:
                    fams.append("null")
                if f is None:
                    fams[ci] = "none"
                elif f != "null" and fams[ci] in ("null", f):
                    fams[ci] = f
                elif f != "null":
                    fams[ci] = "none"
        return fams

    def bind(alias: str, cols: str, fams: list[str]) -> None:
        # Bind under BOTH the qualified key «alias.col» and the bare
        # name. A qualified reference only resolves through its own
        # alias's key, so «r.b» on an unrelated table never inherits a
        # VALUES binding for a same-named column (the bare key still
        # serves unqualified references, with conflict-drop).
        names = [c.strip().lower() for c in cols.split(",")]
        alias = alias.strip().lower()
        for ci, name in enumerate(names):
            fam = fams[ci] if ci < len(fams) else "null"
            for key in (f"{alias}.{name}", name):
                if fam in ("dts", "ym", "ts"):
                    if pools.get(key, fam) != fam:
                        pools[key] = None  # conflicting bindings: drop
                    elif key not in pools or pools[key] is not None:
                        pools[key] = fam
                elif key in pools:
                    pools[key] = None

    for m in _IVL_VALUES_ALIAS_WITH_RE.finditer(sql):
        bind(m.group(1), m.group(2), scan_values(m.end()))
    for m in _IVL_VALUES_ALIAS_INLINE_RE.finditer(sql):
        # (VALUES ...) [AS] t(a, b) — find the close paren, then alias
        i = _scan(sql).close(m.end())
        am = re.match(
            r"\s*(?:AS\s+)?(\w+)\s*\(([^()]*)\)", sql[i:], re.IGNORECASE
        )
        if am:
            bind(am.group(1), am.group(2), scan_values(m.end()))
    return {k: v for k, v in pools.items() if v}


def _provably_interval(e: str, pools: dict[str, str]) -> str | None:
    """'dts' / 'ym' when ``e`` is syntactically provably an interval:
    a literal, an interval-preserving wrapper (min/max/sum/greatest/
    least/coalesce/try) over one, a VALUES-bound interval column, or
    +/- arithmetic where EVERY operand proves interval (timestamp +
    interval must NOT classify — its result is a timestamp)."""
    s = e.strip()
    while s.startswith("(") and s.endswith(")"):
        inner = s[1:-1]
        if _scan(inner).split(",") != [inner] or _scan(s).close(1) < len(s):
            break  # not a simple paren wrap
        s = inner.strip()
    m = _IVL_ONLY_LIT_RE.match(s)
    if m and s.upper().startswith("INTERVAL"):
        first = m.group(1).upper().split()[0]
        return "ym" if first in ("YEAR", "MONTH") else "dts"
    if re.fullmatch(r"TIMESTAMP\s*'[^']*'", s, re.IGNORECASE):
        return "ts"
    cm = re.fullmatch(
        r"CAST\s*\((.*)\s+AS\s+INTERVAL\s+" + _IVL_UNIT_RANGE + r"\s*\)",
        s, re.IGNORECASE | re.DOTALL,
    )
    if cm:
        first = cm.group(2).upper().split()[0]
        return "ym" if first in ("YEAR", "MONTH") else "dts"
    m = _IVL_AGG_WRAP_RE.fullmatch(s)
    if m:
        # these wrappers demand same-typed arguments in any query that
        # analyzes, so ONE proven argument pins the family
        fams = {
            _provably_interval(a, pools)
            for a in _scan(m.group(1)).split(",")
        } - {None}
        if len(fams) == 1:
            return fams.pop()
        return None
    if s.startswith("-") or s.startswith("+"):
        return _provably_interval(s[1:], pools)
    parts = [
        p for p in _scan(s).split("+-") if p.strip()
    ]
    if len(parts) > 1:
        fams_list = [_provably_interval(p, pools) for p in parts]
        if None in fams_list:
            return None
        n_ts = fams_list.count("ts")
        if n_ts == 0 and len(set(fams_list)) == 1:
            return fams_list[0]
        if n_ts == 1:
            return "ts"   # timestamp ± interval(s) → timestamp
        if n_ts == 2 and len(parts) == 2:
            return "dts"  # timestamp - timestamp → day-time interval
        return None
    m = _IVL_IDENT_RE.fullmatch(s)
    if m and not _IVL_ONLY_LIT_RE.match(s):
        qual, name = m.group(1), m.group(2).lower()
        if qual:
            # qualified reference: only its own alias's binding counts
            return pools.get(f"{qual.lower()}.{name}")
        return pools.get(name)
    return None


def _rewrite_interval_varchar_casts(sql: str) -> str:
    """CAST(<provably-interval expr> AS VARCHAR) → Presto's rendering
    (IntervalDayTime.formatMillis 'D HH:MM:SS.mmm' /
    IntervalYearMonth 'Y-M') computed at runtime — covers non-literal
    interval values (aggregates, VALUES-bound columns: the reference's
    AbstractTestDistributedQueries testComplexCast shape), which the
    literal fold can't see. Millis come exact from epoch + interval →
    unix_micros; the transform(array(..)) wrapper binds the millis
    subexpression once (pure JVM HOF, no UDF)."""
    if not re.search(r"\b(INTERVAL|TIMESTAMP)\b", sql, re.IGNORECASE):
        return sql
    pools = _interval_values_column_pools(sql)

    def render_ts(e: str) -> str:
        # TimestampOperators.castToSlice: 'yyyy-MM-dd HH:mm:ss.SSS';
        # __spark_date_format is the Java-pattern passthrough spelling
        # (plain date_format would hit the MySQL %-pattern compat pass)
        return f"__spark_date_format(({e}), 'yyyy-MM-dd HH:mm:ss.SSS')"

    def render_dts(e: str) -> str:
        # subtract the base: under a non-UTC session zone the epoch
        # literal's unix_micros is the zone offset, not 0; day-time
        # interval addition is instant-based so the difference is exact
        ms = (
            f"(unix_micros(TIMESTAMP '1970-01-01 00:00:00' + ({e}))"
            f" - unix_micros(TIMESTAMP '1970-01-01 00:00:00')) div 1000"
        )
        return (
            f"element_at(transform(array({ms}), __iv -> concat("
            f"CASE WHEN __iv < 0 THEN '-' ELSE '' END,"
            f" CAST(abs(__iv) div 86400000 AS STRING), ' ',"
            f" lpad(CAST((abs(__iv) div 3600000) % 24 AS STRING), 2, '0'),"
            f" ':',"
            f" lpad(CAST((abs(__iv) div 60000) % 60 AS STRING), 2, '0'),"
            f" ':',"
            f" lpad(CAST((abs(__iv) div 1000) % 60 AS STRING), 2, '0'),"
            f" '.', lpad(CAST(abs(__iv) % 1000 AS STRING), 3, '0'))), 1)"
        )

    def render_ym(e: str) -> str:
        # widen to the full YEAR TO MONTH range first: extract(YEAR ..)
        # is rejected on a MONTH-only interval type
        wide = f"CAST(({e}) AS INTERVAL YEAR TO MONTH)"
        months = (
            f"CAST(extract(YEAR FROM {wide}) * 12"
            f" + extract(MONTH FROM {wide}) AS BIGINT)"
        )
        return (
            f"element_at(transform(array({months}), __iv -> concat("
            f"CASE WHEN __iv < 0 THEN '-' ELSE '' END,"
            f" CAST(abs(__iv) div 12 AS STRING), '-',"
            f" CAST(abs(__iv) % 12 AS STRING))), 1)"
        )

    out, pos = [], 0
    mask = _literal_mask(sql)
    for m in re.finditer(r"\bCAST\s*\(", sql, re.IGNORECASE):
        if m.start() < pos or mask[m.start()]:
            continue
        i = _scan(sql).close(m.end())
        inner = sql[m.end() : i - 1]
        am = re.search(
            r"\s+AS\s+VARCHAR(?:\s*\(\s*\d+\s*\))?\s*\Z",
            inner, re.IGNORECASE,
        )
        if am is None:
            continue
        expr = inner[: am.start()]
        # the AS found must be top-level, not inside the operand
        if _scan(inner).split(",") != [inner]:
            continue
        if re.search(
            r"\s+AS\s+", expr, re.IGNORECASE
        ) and _scan(expr).split(",") == [expr]:
            # e.g. CAST(CAST(x AS Y) AS VARCHAR): recheck that our AS is
            # the outermost by balance — expr must be paren-balanced
            if not _scan(expr).balanced():
                continue
        fam = _provably_interval(expr, pools)
        if fam is None:
            continue
        out.append(sql[pos : m.start()])
        out.append(
            render_dts(expr) if fam == "dts"
            else render_ym(expr) if fam == "ym"
            else render_ts(expr)
        )
        pos = i
    if not out:
        return sql
    out.append(sql[pos:])
    return "".join(out)


def _normalize_interval_literals(sql: str) -> str:
    """Presto's partial-field interval range literals — ``INTERVAL '12'
    DAY TO MINUTE``, ``INTERVAL '10:45' HOUR TO SECOND`` — are rejected
    by Spark's parser (it demands every field of the range). Normalize
    any day-time range literal to the canonical full-field
    ``INTERVAL 'D HH:MM:SS.mmm' DAY TO SECOND`` (exact same value;
    single-unit forms Spark accepts pass through untouched)."""

    def sub(m: re.Match) -> str:
        unit = " ".join(m.group(2).upper().split())
        if " TO " not in unit:
            return m.group(0)
        if unit == "YEAR TO MONTH":
            # Presto allows a partial-field ('124' = years only) or
            # overflowed-month ('124-30') literal; normalize to total
            # months rendered y-m (IntervalYearMonth parse = y*12 + m)
            ym = re.fullmatch(
                r"\s*([+-]?)(\d+)(?:-(\d+))?\s*", m.group(1)
            )
            if not ym:
                return m.group(0)
            sign, y, mo = ym.group(1), int(ym.group(2)), int(
                ym.group(3) or 0
            )
            total = y * 12 + mo
            return (
                f"INTERVAL '{sign}{total // 12}-{total % 12}'"
                f" YEAR TO MONTH"
            )
        ms = _interval_literal_millis(m.group(1), unit)
        if ms is None:
            return m.group(0)
        return (
            f"INTERVAL '{_render_presto_interval_dts(ms)}' DAY TO SECOND"
        )

    # literal-mask aware: INTERVAL inside a string must not rewrite
    out, pos = [], 0
    mask = _literal_mask(sql)
    for m in _IVL_LIT_RE.finditer(sql):
        if mask[m.start()]:
            continue
        out.append(sql[pos : m.start()])
        out.append(sub(m))
        pos = m.end()
    out.append(sql[pos:])
    return "".join(out)


def _rewrite_time_casts(sql: str) -> str:
    """``CAST(x AS TIME [WITH TIME ZONE])`` under the engine's TIME
    emulation (epoch-anchored timestamps — README Known gaps): keep the
    time-of-day, anchor the date to 1970-01-01. Millisecond precision
    matches Presto's TIME resolution."""
    i = 0
    while True:
        m = _CAST_OPEN_RE.search(sql, i)
        if not m:
            return sql
        j = _scan(sql).close(m.end())
        inner = sql[m.end() : j - 1]
        as_pos = _scan(inner).last_top(_AS_RE, "([")
        if as_pos is None:
            i = m.end()
            continue
        target = inner[as_pos + 2 :].strip()
        if not re.fullmatch(
            r"TIME(\s+WITH\s+TIME\s+ZONE)?", target, re.IGNORECASE
        ):
            i = m.end()
            continue
        expr = inner[:as_pos].strip()
        kw = sql[m.start() : m.end() - 1].strip().upper().split("(")[0]
        sql = (
            sql[: m.start()]
            + f"{kw}(concat('1970-01-01 ', "
            + f"__spark_date_format({expr}, 'HH:mm:ss.SSS')) AS TIMESTAMP)"
            + sql[j:]
        )
        i = m.start()


_SELECT_KW_RE = re.compile(r"\bSELECT\b", re.IGNORECASE)
_SETOP_DISTINCT_RE = re.compile(
    r"\b(INTERSECT|EXCEPT)\b(?!\s+ALL\b)", re.IGNORECASE
)
_SELECT_LIST_END_RE = re.compile(
    r"(?<![A-Za-z_])(?:FROM|WHERE|GROUP|ORDER|HAVING|UNION|INTERSECT|EXCEPT"
    r"|LIMIT|WINDOW)(?![A-Za-z_])",
    re.IGNORECASE,
)


def _rewrite_setop_void_nulls(sql: str) -> str:
    """Bare ``NULL`` select items in a statement containing a DISTINCT
    set operation → ``CAST(NULL AS STRING)``.

    Spark 4.1 lowers INTERSECT/EXCEPT (distinct) to left-semi/anti joins
    whose null-safe equality is broken for VOID (NullType) columns:
    ``(SELECT NULL FROM t) INTERSECT (SELECT NULL FROM t)`` returns empty
    and the EXCEPT twin returns a row — both wrong (NULLs compare equal
    in set ops; Presto and the SQL standard agree, and Spark's own
    UNION/DISTINCT/GROUP BY/INTERSECT ALL handle VOID correctly). Typing
    the literal sidesteps the broken NullType comparison; STRING is the
    widest coercion target, so a typed counterpart column on the other
    branch still reconciles."""
    mask = _literal_mask(sql)
    if not any(
        not mask[m.start()] for m in _SETOP_DISTINCT_RE.finditer(sql)
    ):
        return sql
    selects = [
        m for m in _SELECT_KW_RE.finditer(sql) if not mask[m.start()]
    ]
    for m in reversed(selects):
        start = m.end()
        end = _scan(sql).run(start, _SELECT_LIST_END_RE)[-1][1]
        items = _scan(sql[start:end]).items()
        new_items, changed = [], False
        for it in items:
            mm = re.fullmatch(
                r"(?is)((?:DISTINCT|ALL)\s+)?NULL(\s+AS\s+\w+)?", it.strip()
            )
            if mm:
                prefix = mm.group(1) or ""
                alias = mm.group(2) or ""
                new_items.append(f"{prefix}CAST(NULL AS STRING){alias}")
                changed = True
            else:
                new_items.append(it)
        if changed:
            sql = sql[:start] + " " + ", ".join(new_items) + " " + sql[end:]
    return sql


_VARBINARY_TYPE_RE = re.compile(r"(\bAS\s+)VARBINARY\b", re.IGNORECASE)


def _rewrite_varbinary_type(sql: str) -> str:
    """Presto's ``VARBINARY`` type keyword → Spark's ``BINARY`` (pure
    rename — same unbounded byte-string type, StandardTypes.java:41).
    Literal-aware so ``'… AS VARBINARY …'`` string contents survive."""
    if "VARBINARY" not in sql.upper():
        return sql
    mask = _literal_mask(sql)
    out = []
    last = 0
    for m in _VARBINARY_TYPE_RE.finditer(sql):
        if mask[m.start()]:
            continue
        out.append(sql[last : m.end(1)])
        out.append("BINARY")
        last = m.end()
    out.append(sql[last:])
    return "".join(out)


_CMP_ONLY_RE = re.compile(r"^\s*(=|<>|!=|<=|>=|<|>)\s*$")


def _rewrite_real_decimal_cmp(sql: str) -> str:
    """``CAST(a AS REAL) <cmp> CAST(b AS DECIMAL(p,s))`` — Presto's common
    supertype for REAL vs DECIMAL is REAL (TypeRegistry; prestodb issue
    #7520: ``cast(1.2 AS real) = CAST(1.2 AS decimal(2,1))`` is TRUE),
    while Spark widens both to DOUBLE (float 1.2 → 1.2000000476… ≠ 1.2).
    When BOTH comparison operands are explicit casts — the only case where
    the types are textually provable — wrap the decimal side in a REAL
    cast to reproduce Presto's coercion."""
    up = sql.upper()
    if "REAL" not in up or "DECIMAL" not in up:
        return sql
    casts = []  # (start, end, target-type)
    i = 0
    while True:
        m = _CAST_OPEN_RE.search(sql, i)
        if not m:
            break
        j = _scan(sql).close(m.end())
        inner = sql[m.end() : j - 1]
        as_pos = _scan(inner).last_top(_AS_RE, "([")
        if as_pos is not None:
            casts.append((m.start(), j, inner[as_pos + 2 :].strip().upper()))
        i = m.end()
    edits = []
    for idx, (s1, e1, t1) in enumerate(casts):
        # the next cast NOT nested inside this one
        nxt = next((c for c in casts[idx + 1 :] if c[0] >= e1), None)
        if nxt is None:
            continue
        s2, e2, t2 = nxt
        if not _CMP_ONLY_RE.fullmatch(sql[e1:s2]):
            continue
        if t1 == "REAL" and t2.startswith("DECIMAL"):
            edits.append((s2, e2))
        elif t2 == "REAL" and t1.startswith("DECIMAL"):
            edits.append((s1, e1))
    for s, e in reversed(edits):
        sql = sql[:s] + f"CAST({sql[s:e]} AS FLOAT)" + sql[e:]
    return sql


_IPADDR_LIT_RE = re.compile(r"\bIPADDRESS\s*'([^']*)'", re.IGNORECASE)


def _ip_alias_scan(sql: str, seed=None) -> set[str]:
    """ip-typed subquery/CTE aliases: a select item already
    marker-wrapped (folded literal), still spelled as a cast to
    IPADDRESS, or a bare re-alias of a known ip alias makes its alias
    ip-typed in the outer scope — identity under re-cast,
    presto_ip_format under CAST AS VARCHAR. Fixpointed (round 9) so the
    marker survives ANY number of alias levels; ``seed`` carries
    ip-typed VIEW columns across statement boundaries (round 10)."""
    ip_aliases: set[str] = set(seed or ())
    _alias_items = _derived_select_aliases(sql)
    for _ in range(max(len(_alias_items), 1)):
        grew = False
        for expr, alias in _alias_items:
            if alias in ip_aliases:
                continue
            if expr.startswith("presto_ipaddress("):
                ip_aliases.add(alias)
                grew = True
                continue
            if (
                _IDENT_FULL_RE.fullmatch(expr.strip())
                and expr.strip().rsplit(".", 1)[-1].lower() in ip_aliases
            ):
                ip_aliases.add(alias)
                grew = True
                continue
            em = _CAST_OPEN_RE.match(expr)
            if em and _scan(expr).close(em.end()) == len(expr):
                inner = expr[em.end() : -1]
                ap = _scan(inner).last_top(_AS_RE, "([")
                if (
                    ap is not None
                    and inner[ap + 2 :].strip().upper() == "IPADDRESS"
                ):
                    ip_aliases.add(alias)
                    grew = True
        if not grew:
            break
    return ip_aliases


def statement_output_type_markers(
    sql: str, char_seed=None, ip_seed=None
) -> tuple[dict, set]:
    """char(n)/ipaddress markers over a statement's OUTPUT columns —
    Engine persists these at a CREATE VIEW boundary so the fixpoint
    alias tracking survives into later statements (README Known gaps,
    round 10). The statement is wrapped as a derived table so its
    top-level select items enter the alias scans."""
    body = sql.rstrip().rstrip(";")
    wrapped = f"SELECT * FROM ({body}) __vtm"
    chars = _char_alias_lengths(wrapped, char_seed)
    from .functions.ipaddress_compat import ip_to_bytes16

    folded = _IPADDR_LIT_RE.sub(
        lambda m: (
            f"presto_ipaddress(X'{ip_to_bytes16(m.group(1)).hex().upper()}')"
        ),
        wrapped,
    )
    return chars, _ip_alias_scan(folded, ip_seed)


def _rewrite_ipaddress(sql: str, ip_seed=None) -> str:
    """IPADDRESS type emulation (IpAddressType.java / IpAddressOperators.java;
    see functions/ipaddress_compat.py for the representation contract).

    Values live as Presto's own 16-byte IPv6-mapped form in a plain BINARY
    column, so every relational operator (=, ordering, BETWEEN, GROUP BY,
    JOIN, IS DISTINCT FROM, xxhash64) is native JVM binary semantics. This
    pass handles the three cast edges:

    1. ``IPADDRESS 'lit'`` and ``CAST('lit' AS IPADDRESS)`` — parsed *at
       rewrite time* into a 16-byte ``X'…'`` literal (zero runtime cost),
       wrapped in the Catalyst-inlined ``presto_ipaddress`` identity marker
       so later passes can recognize ip-typed expressions textually.
    2. ``CAST(e AS IPADDRESS)`` over non-literals — varbinary-shaped
       operands route through the JVM ``ip_from_varbinary`` widening, the
       rest through the Arrow-vectorized parse UDF (TRY_CAST → NULL form).
    3. ``CAST(<ip-marked> AS VARCHAR|VARBINARY)`` — format UDF / unwrap.
    """
    if not re.search(r"\bIPADDRESS\b", sql, re.IGNORECASE) and not (
        ip_seed and any(n in sql.lower() for n in ip_seed)
    ):
        return sql
    from .functions.ipaddress_compat import ip_to_bytes16

    def _fold(value: str) -> str:
        return f"presto_ipaddress(X'{ip_to_bytes16(value).hex().upper()}')"

    sql = _IPADDR_LIT_RE.sub(lambda m: _fold(m.group(1)), sql)

    ip_aliases = _ip_alias_scan(sql, ip_seed)

    def _is_ip_ident(e: str) -> bool:
        return bool(
            _IDENT_FULL_RE.fullmatch(e)
            and e.rsplit(".", 1)[-1].lower() in ip_aliases
        )

    # pass 2: CAST(e AS IPADDRESS)
    i = 0
    while True:
        m = _CAST_OPEN_RE.search(sql, i)
        if not m:
            break
        j = _scan(sql).close(m.end())
        inner = sql[m.end() : j - 1]
        as_pos = _scan(inner).last_top(_AS_RE, "([")
        if as_pos is None or inner[as_pos + 2 :].strip().upper() != "IPADDRESS":
            i = m.end()
            continue
        expr = inner[:as_pos].strip()
        is_try = sql[m.start() : m.end()].lstrip().upper().startswith("TRY")
        sm = re.fullmatch(r"'([^']*)'", expr)
        hm = re.fullmatch(r"[xX]'([0-9a-fA-F]*)'", expr)
        if expr.upper() == "NULL":
            rep = "CAST(NULL AS BINARY)"
        elif _is_ip_ident(expr):
            rep = f"presto_ipaddress({expr})"  # already 16-byte binary
        elif sm:
            try:
                rep = _fold(sm.group(1))
            except ValueError:
                if not is_try:
                    raise
                rep = "CAST(NULL AS BINARY)"
        elif hm:
            raw = bytes.fromhex(hm.group(1))
            if len(raw) == 4:
                raw = b"\x00" * 10 + b"\xff\xff" + raw
            if len(raw) == 16:
                rep = f"presto_ipaddress(X'{raw.hex().upper()}')"
            elif is_try:
                rep = "CAST(NULL AS BINARY)"
            else:
                n = len(bytes.fromhex(hm.group(1)))
                rep = (
                    "presto_ipaddress(CAST(raise_error("
                    f"'Invalid IP address binary length: {n}') AS BINARY))"
                )
        elif re.fullmatch(
            r"(?is)(TRY_)?CAST\s*\(.*AS\s+(VARBINARY|BINARY)\s*\)", expr
        ) or re.match(r"(?i)(unhex|from_base64|from_hex)\s*\(", expr):
            rep = f"presto_ipaddress(ip_from_varbinary({expr}))"
        else:
            fn = "presto_ip_try_parse" if is_try else "presto_ip_parse"
            rep = f"presto_ipaddress({fn}({expr}))"
        sql = sql[: m.start()] + rep + sql[j:]
        i = m.start() + len(rep)

    # pass 3: casts OF an ip-marked expression back to varchar/varbinary
    i = 0
    while True:
        m = _CAST_OPEN_RE.search(sql, i)
        if not m:
            return sql
        j = _scan(sql).close(m.end())
        inner = sql[m.end() : j - 1]
        as_pos = _scan(inner).last_top(_AS_RE, "([")
        if as_pos is None:
            i = m.end()
            continue
        target = inner[as_pos + 2 :].strip().upper()
        expr = inner[:as_pos].strip()
        if not expr.startswith("presto_ipaddress(") and not _is_ip_ident(expr):
            i = m.end()
            continue
        if re.fullmatch(r"VARCHAR(\(\d+\))?|STRING", target):
            rep = f"presto_ip_format({expr})"
        elif target in ("VARBINARY", "BINARY"):
            rep = expr
        else:
            i = m.end()
            continue
        sql = sql[: m.start()] + rep + sql[j:]
        i = m.start()


_QUANT_RE = re.compile(r"(>=|<=|<>|!=|>|<|=)\s*(ALL|ANY|SOME)\s*\(", re.IGNORECASE)

# (op, quantifier) → aggregate that makes the scalar-subquery form exact for
# non-empty, non-NULL subqueries: x > ALL(S) ⇔ x > max(S), x > ANY(S) ⇔
# x > min(S), and dually for </<=.
_QUANT_AGG = {
    (">", "ALL"): "max",
    (">=", "ALL"): "max",
    ("<", "ALL"): "min",
    ("<=", "ALL"): "min",
    (">", "ANY"): "min",
    (">=", "ANY"): "min",
    ("<", "ANY"): "max",
    ("<=", "ANY"): "max",
}


def _split_subquery(inner: str) -> tuple[str, str] | None:
    """Split ``SELECT <proj> <rest>`` into (proj, rest incl. FROM); None if
    the shape is unsupported (multi-column or DISTINCT projection)."""
    if inner[:6].upper() != "SELECT":
        return None
    body = inner[6:]
    f = next((m.start() for m in _scan(body).top_matches(_FROM_RE)), -1)
    if f < 0:
        # FROM-less subquery: the projection ends at the first depth-0
        # clause keyword (``SELECT 1 WHERE FALSE``) or end of text
        cm = re.search(
            r"\b(WHERE|GROUP|HAVING|ORDER|UNION|EXCEPT|INTERSECT|LIMIT)\b",
            body,
            re.IGNORECASE,
        )
        f = cm.start() if cm else len(body)
    proj = body[:f].strip()
    if len(_scan(proj).split(",", "(")) > 1:
        return None
    if not proj or proj.upper().startswith("DISTINCT"):
        return None
    return proj, body[f:]


_IN_SUBQ_RE = re.compile(r"(\bNOT\s+)?\bIN\s*\(\s*SELECT\b", re.IGNORECASE)

_uniq_counter = [0]


def _uniq() -> int:
    _uniq_counter[0] += 1
    return _uniq_counter[0]


def _projection_zones(sql: str) -> list[tuple[int, int]]:
    """[start, end) spans between each SELECT keyword and its own top-level
    FROM — the SELECT-list zones where Spark's ExistenceJoin flattens the
    three-valued IN result to TRUE/FALSE."""
    mask = _literal_mask(sql)
    zones = []
    clause_re = re.compile(
        r"\b(WHERE|GROUP|HAVING|ORDER|UNION|EXCEPT|INTERSECT|LIMIT)\b",
        re.IGNORECASE,
    )
    for m in re.finditer(r"\bSELECT\b", sql, re.IGNORECASE):
        if mask[m.start()]:
            continue
        body = sql[m.end():]
        f = next((m.start() for m in _scan(body).top_matches(_FROM_RE)), -1)
        if f < 0:
            # FROM-less SELECT (e.g. a CTE body ``SELECT 1 WHERE FALSE``):
            # the projection ends at the first depth-0 clause keyword or
            # when the enclosing paren closes — NOT at end-of-string
            f = _scan(body).run(0, clause_re, "(")[-1][1]
        zones.append((m.end(), m.end() + f))
    return zones


_GB_IN_LIT_RE = re.compile(
    r"^(?:[+-]?\d+(?:\.\d+)?|'(?:[^']|'')*'|TRUE|FALSE|NULL)$", re.IGNORECASE
)


def _rewrite_group_by_in_subquery(sql: str) -> str:
    """Subquery expressions in GROUP BY keys / the select list of a
    grouped query — ``IN (SELECT …)`` keys (AbstractTestQueries.java
    testSemiJoinWithGroupBy) and correlated scalar subqueries
    (testCorrelatedScalarSubqueries GROUP BY sites): Presto plans the
    semi-join / decorrelated apply below the aggregation; Spark's
    analyzer rejects subquery expressions in grouping expressions.
    Hoist every such expression into a derived-table projection
    (``SELECT *, E AS __inkN FROM …``) — where the projected-IN CASE
    rewrite applies and Spark decorrelates projection-level scalar
    subqueries — and group on the materialized column. The derived
    table inherits a single-relation FROM's alias (or the table name)
    so outer qualified refs keep resolving. Select-list-only
    occurrences (a literal IN probe, or a whole-item scalar subquery —
    uncorrelated-constant or grouping-key-correlated for any
    Presto-legal statement) are appended to GROUP BY, which cannot
    split groups.
    Bails on DISTINCT heads, set operations, grouping-set constructs,
    and multi-GROUP BY statements, leaving the SQL unchanged."""
    if not re.match(r"\s*SELECT\b", sql, re.IGNORECASE):
        return sql
    if not re.search(r"\(\s*SELECT\b", sql, re.IGNORECASE):
        return sql
    gbs = _scan(sql).top_matches(re.compile(r"\bGROUP\s+BY\b", re.IGNORECASE))
    if len(gbs) != 1:
        return sql
    if _scan(sql).top_matches(
        re.compile(r"\b(UNION|INTERSECT|EXCEPT)\b", re.IGNORECASE)
    ):
        return sql
    gb = gbs[0]
    froms = _scan(sql).top_matches(_FROM_RE)
    if not froms or froms[0].start() > gb.start():
        return sql
    fm = froms[0]
    sel_m = re.match(r"\s*SELECT\s+", sql, re.IGNORECASE)
    if re.match(r"(DISTINCT|ALL)\b", sql[sel_m.end() :], re.IGNORECASE):
        return sql
    select_list = sql[sel_m.end() : fm.start()]
    frombody = sql[fm.end() : gb.start()]
    rest = sql[gb.end() :]
    # split the GROUP BY key list from the HAVING/ORDER/LIMIT tail
    tail_kw = re.compile(
        r"\b(HAVING|ORDER\s+BY|LIMIT|OFFSET|FETCH|WINDOW)\b", re.IGNORECASE
    )
    cut = next((m.start() for m in tail_kw.finditer(rest)
                if not _scan(rest).depth(m.start())), len(rest))
    keys_text, tail_text = rest[:cut], rest[cut:]
    if re.search(
        r"\b(GROUPING\s+SETS|ROLLUP|CUBE)\b", keys_text, re.IGNORECASE
    ):
        return sql

    def _has_subquery(txt: str) -> bool:
        return _find_outside(_PAREN_SEL_ANY_RE, txt) is not None

    hoists: dict[str, str] = {}  # expression text -> __inkN alias

    def _hoist(txt: str) -> str:
        return hoists.setdefault(txt, f"__ink{len(hoists)}")

    keys = [k.strip() for k in _scan(keys_text).items()]
    for k in keys:
        if _has_subquery(k):
            _hoist(k)
    sel_items = _scan(select_list).items()
    for item in sel_items:
        core = item.strip()
        am = _AS_ALIAS_TAIL_RE.search(core)
        if am:
            core = core[: am.start()].strip()
        if core in hoists or not _has_subquery(core):
            continue
        # whole-item `lit [NOT] IN (SELECT …)` with a literal probe
        im = _IN_SUBQ_RE.search(core)
        if im is not None:
            probe = core[: im.start()].strip()
            open_paren = core.index("(", im.start())
            if (
                _GB_IN_LIT_RE.match(probe)
                and _scan(core).close(open_paren + 1) == len(core)
            ):
                _hoist(core)
            continue
        # whole-item scalar subquery `(SELECT …)`
        if (
            core.startswith("(")
            and re.match(r"\(\s*SELECT\b", core, re.IGNORECASE)
            and _scan(core).close(1) == len(core)
        ):
            _hoist(core)
    if not hoists:
        return sql

    def _subst(txt: str) -> str:
        for e, al in sorted(hoists.items(), key=lambda t: -len(t[0])):
            txt = txt.replace(e, al)
        return txt

    n = _uniq()
    new_keys = [_subst(k) for k in keys]
    for al in hoists.values():
        if al not in new_keys:
            new_keys.append(al)
    inner_proj = ", ".join(f"{e} AS {al}" for e, al in hoists.items())
    tail = _subst(tail_text).strip()
    # the derived table inherits a single-relation FROM's alias (or the
    # bare table name) so outer qualified refs (o.orderkey) still resolve
    fb = frombody.strip()
    fmatch = re.match(
        r"^([A-Za-z_]\w*)"
        r"(?:\s+(?:AS\s+)?(?!WHERE\b|GROUP\b|HAVING\b|ORDER\b|LIMIT\b)"
        r"([A-Za-z_]\w*))?"
        r"(\s+WHERE\b.*)?$",
        fb,
        re.IGNORECASE | re.DOTALL,
    )
    outer_alias = (
        (fmatch.group(2) or fmatch.group(1)) if fmatch else f"__inh{n}"
    )
    return (
        f"SELECT {_subst(select_list).strip()} "
        f"FROM (SELECT *, {inner_proj} FROM {fb}) {outer_alias} "
        f"GROUP BY {', '.join(new_keys)}" + (f" {tail}" if tail else "")
    )


def _rewrite_projected_in_subquery(sql: str) -> str:
    """3VL-correct ``[NOT] IN (SELECT …)`` in PROJECTION context.

    In WHERE/HAVING Spark already plans a null-aware (anti) join with
    standard semantics, but a projected IN-predicate becomes an
    ExistenceJoin whose output is TRUE/FALSE — Presto/standard yield NULL
    when there is no match and the subquery column (or probe value) is
    NULL (reference
    TransformUncorrelatedInPredicateSubqueryToSemiJoin.java:55 preserves
    the three-valued form). Rewritten to an explicit CASE:

      CASE WHEN count(S) = 0          THEN FALSE
           WHEN EXISTS(match)         THEN TRUE
           WHEN x IS NULL OR S has NULL THEN NULL
           ELSE FALSE END             (negated for NOT IN)
    """
    while True:
        zones = _projection_zones(sql)
        mask = _literal_mask(sql)
        target = None
        for m in _IN_SUBQ_RE.finditer(sql):
            if mask[m.start()]:
                continue
            if any(a <= m.start() < b for a, b in zones):
                target = m
                break
            # WHERE-context «(x IN (SELECT …)) IS [NOT] NULL» needs the
            # 3VL CASE too: Spark's null-aware (semi) join flattens the
            # unknown result to FALSE before IS NULL can observe it
            # (AbstractTestDistributedQueries testDelete SemiJoin null
            # handling). A false positive (wrapping paren not the IN's)
            # is safe — the CASE form is equivalent in any context.
            try:
                op = sql.index("(", m.start(), m.end())
                jj = _scan(sql).close(op + 1)
            except ValueError:
                continue
            after = sql[jj:].lstrip()
            if after.startswith(")") and re.match(
                r"(?is)\s*IS\s+(NOT\s+)?NULL", after[1:]
            ):
                target = m
                break
        if target is None:
            return sql
        open_paren = sql.index("(", target.start(), target.end())
        # scan to the matching ')' of the IN-list paren
        j = _scan(sql).close(open_paren + 1)
        inner = sql[open_paren + 1 : j - 1].strip()
        estart = _expr_start(sql, mask, target.start())
        if estart is None or inner[:6].upper() != "SELECT":
            # unsupported shape — leave untouched (bail out entirely to
            # avoid an infinite loop)
            return sql
        x = sql[estart : target.start()].strip()
        negate = bool(target.group(1))
        n = _uniq()
        # column-list alias names the subquery's single output whatever
        # its shape (star, DISTINCT, FROM-less, expression projection)
        wrapped = f"(SELECT __q FROM ({inner}) AS __wi{n}(__q))"
        cnt0 = f"(SELECT count(*) FROM {wrapped} __c{n}) = 0"
        match = f"EXISTS(SELECT 1 FROM {wrapped} __e{n} WHERE __e{n}.__q = ({x}))"
        hasnull = (
            f"({x}) IS NULL OR "
            f"(SELECT count(*) FROM {wrapped} __n{n} WHERE __q IS NULL) > 0"
        )
        t, f_ = ("FALSE", "TRUE") if negate else ("TRUE", "FALSE")
        repl = (
            f"CASE WHEN {cnt0} THEN {f_} WHEN {match} THEN {t} "
            f"WHEN {hasnull} THEN CAST(NULL AS BOOLEAN) ELSE {f_} END "
        )  # trailing space: the source may abut the ')' (e.g. ``)FROM``)
        sql = sql[:estart] + repl + sql[j:]


_SCALAR_TYPE_MAP = {
    "varchar": "string", "char": "string", "json": "string",
    "integer": "int", "int": "int", "bigint": "bigint",
    "tinyint": "tinyint", "smallint": "smallint",
    "double": "double", "real": "float", "boolean": "boolean",
    "date": "date", "timestamp": "timestamp", "varbinary": "binary",
    # Presto's UNKNOWN (untyped NULL) — Spark's VOID accepts NULL casts
    "unknown": "void",
}


def _presto_type_to_spark(t: str) -> str | None:
    """Presto type syntax → Spark DDL schema string: MAP(VARCHAR, BIGINT) →
    map<string,bigint>, ARRAY(ROW(a BIGINT)) → array<struct<a:bigint>>.
    None when the shape is unsupported."""
    t = t.strip()
    # mixed angle form (old Presto also accepts array<row(..)>): normalize
    # the outer brackets to the paren form and recurse
    am = re.match(r"^(MAP|ARRAY)\s*<(.*)>$", t, re.IGNORECASE | re.DOTALL)
    if am:
        return _presto_type_to_spark(f"{am.group(1)}({am.group(2)})")
    m = re.match(r"^(MAP|ARRAY|ROW)\s*\((.*)\)$", t, re.IGNORECASE | re.DOTALL)
    if not m:
        base = t.lower()
        pm = re.match(r"^(varchar|char|decimal)\s*\((.*)\)$", base, re.DOTALL)
        if pm:
            if pm.group(1) == "decimal":
                return f"decimal({pm.group(2)})"
            return "string"
        return _SCALAR_TYPE_MAP.get(base)
    kind, inner = m.group(1).upper(), m.group(2)
    # nested angle form splits like the paren form
    parts = _scan(inner).split(",", "(<")
    if kind == "ARRAY" and len(parts) == 1:
        el = _presto_type_to_spark(parts[0])
        return f"array<{el}>" if el else None
    if kind == "MAP" and len(parts) == 2:
        k, v = _presto_type_to_spark(parts[0]), _presto_type_to_spark(parts[1])
        return f"map<{k},{v}>" if k and v else None
    if kind == "ROW":
        fields = []
        for i_f, p in enumerate(parts):
            fm = re.match(r"^\s*(\w+)\s+(.+)$", p, re.DOTALL)
            if not fm:
                # unnamed field (ROW(INTEGER, INTEGER) is legal Presto;
                # RowType names them field0..) — name them col1.. to
                # match Spark's struct() constructor naming, so the
                # .fieldN → .col{N+1} access rewrite works against BOTH
                # constructor-built and cast/from_json-built structs
                ft_only = _presto_type_to_spark(p.strip())
                if not ft_only:
                    return None
                fields.append(f"col{i_f + 1}:{ft_only}")
                continue
            ft = _presto_type_to_spark(fm.group(2))
            if not ft:
                return None
            fields.append(f"{fm.group(1)}:{ft}")
        return "struct<" + ",".join(fields) + ">"
    return None


_CAST_OPEN_RE = re.compile(r"\b(?:TRY_)?CAST\s*\(", re.IGNORECASE)


_JSON_ROW_REJECT_RE = re.compile(
    # TIMESTAMP operands also fall back: to_json renders them ISO-8601,
    # but Presto's JSON cast uses the SQL text form — the typeof-guided
    # canonicalizer re-renders (functions/__init__.py _canon_value)
    r"\b(ROW|STRUCT|NAMED_STRUCT)\s*\(|\bSELECT\b|\bTIMESTAMP\b",
    re.IGNORECASE,
)
_JSON_ARG_TOKEN_RE = re.compile(r"(?:[A-Za-z_][A-Za-z0-9_]*\.)*([A-Za-z_][A-Za-z0-9_]*)")
_JSON_ARG_KEYWORDS = frozenset(
    "null true false date time timestamp interval case when then else end "
    "and or not in is between like div current_date current_timestamp".split()
)


def _flat_scalar_row_arg(arg: str, scalar_cols: frozenset) -> bool:
    """True when a ROW(...) argument is provably struct-free: no row/struct
    constructor or subquery, and every bare identifier is a catalog column
    whose type (voted across registered tables) contains no struct. Only
    such args may take the JVM JSON fast path — a struct-typed operand
    must fall back to the typeof-guided canonicalizer to keep Presto's
    arrays-at-every-depth form."""
    if _JSON_ROW_REJECT_RE.search(arg):
        return False
    mask = _literal_mask(arg)
    for m in _JSON_ARG_TOKEN_RE.finditer(arg):
        if mask[m.start()]:
            continue
        # function names resolve by signature, not column type
        rest = arg[m.end() :].lstrip()
        if rest.startswith("("):
            continue
        tok = m.group(1).lower()
        if tok in _JSON_ARG_KEYWORDS:
            continue
        if tok not in scalar_cols:
            return False
    return True


def _jvm_json_elem(arg: str) -> str:
    """Serialize one provably-scalar expression to its JSON value text,
    entirely JVM-side: ``to_json(named_struct('j', e))`` emits
    ``{"j":<value>}`` — strip the fixed 5-char prefix and the trailing
    brace. ``ignoreNullFields=false`` keeps NULL as the literal ``null``."""
    tj = (
        f"to_json(named_struct('j', ({arg})), "
        "map('ignoreNullFields', 'false'))"
    )
    return f"substr({tj}, 6, length({tj}) - 6)"


class _JsonNull:
    """Sentinel: the JSON ``null`` VALUE (renders as the text 'null'),
    distinct from SQL NULL (a NULL json cell)."""


_JSON_NULL = _JsonNull()


def _parse_literal_json_value(e: str):
    """A literal SQL expression → the Python JSON value it denotes
    (JsonUtil to-JSON coercions over literals only). Raises ValueError
    for anything non-literal — callers fall back to the runtime path.
    A top-level SQL NULL parses to None; a top-level ``JSON 'null'``
    parses to the _JSON_NULL sentinel (Presto: CAST(NULL AS JSON) is
    SQL NULL, but JSON 'null' is the json null value)."""
    import json as _json
    from decimal import Decimal

    e = e.strip()
    mm = re.fullmatch(r"(?is)JSON\s*('(?:[^']|'')*')", e)
    if mm:
        try:
            v = _json.loads(mm.group(1)[1:-1].replace("''", "'"))
        except ValueError as exc:
            raise ValueError(f"bad json literal {e!r}") from exc
        return _JSON_NULL if v is None else v
    if re.fullmatch(r"(?i)NULL", e):
        return None
    if re.fullmatch(r"(?i)TRUE", e):
        return True
    if re.fullmatch(r"(?i)FALSE", e):
        return False
    mm = re.fullmatch(r"'((?:[^']|'')*)'", e)
    if mm:
        return mm.group(1).replace("''", "'")
    mm = re.fullmatch(r"(?is)(?:DATE)\s*('(?:[^']|'')*')", e)
    if mm:  # DATE literals serialize as their ISO text
        return mm.group(1)[1:-1]
    mm = re.fullmatch(r"(?is)DECIMAL\s*'([^']*)'", e)
    if mm:
        return Decimal(mm.group(1).strip())
    if re.fullmatch(r"[+-]?\d+", e):
        return int(e)
    if re.fullmatch(r"(?i)[+-]?(?:\d+\.?\d*|\.\d+)E[+-]?\d+", e):
        return float(e)
    if re.fullmatch(r"[+-]?(?:\d+\.\d*|\.\d+)", e):
        return Decimal(e)
    mm = re.fullmatch(r"(?is)(?:ARRAY\s*[\[(]|ROW\s*\()(.*)[\])]", e)
    if mm:
        body = mm.group(1).strip()
        return (
            [_parse_literal_json_value(a) for a in _scan(body).items()]
            if body
            else []
        )
    mm = re.fullmatch(r"(?is)(?:MAP|MAP_FROM_ARRAYS)\s*\((.*)\)", e)
    if mm:
        if not mm.group(1).strip():
            return {}
        args = _scan(mm.group(1)).items()
        if len(args) != 2:
            raise ValueError(f"map arity {e!r}")
        ks = _parse_literal_json_value(args[0])
        vs = _parse_literal_json_value(args[1])
        if not isinstance(ks, list) or not isinstance(vs, list):
            raise ValueError(f"map args not arrays {e!r}")
        if len(ks) != len(vs):
            raise ValueError(f"map length mismatch {e!r}")
        return dict(zip(ks, vs))
    mm = re.fullmatch(r"(?is)(?:TRY_)?CAST\s*\((.*)\)", e)
    if mm:
        inner = mm.group(1)
        as_pos = _scan(inner).last_top(_SPACED_AS_RE)
        if as_pos is None:
            raise ValueError(f"cast without AS {e!r}")
        operand = inner[:as_pos].strip()
        # structure/NULL pass-throughs only: a scalar CAST can change
        # the value (string→int coercion) and must not fold blindly
        if re.fullmatch(r"(?i)NULL", operand):
            return None
        if re.match(r"(?is)^(ARRAY\s*\[|ROW\s*\(|MAP\s*\()", operand):
            return _parse_literal_json_value(operand)
        raise ValueError(f"non-structural cast {e!r}")
    raise ValueError(f"non-literal {e!r}")


def _unify_decimal_scales(vals):
    """Presto serializes a decimal array/map-key set at the COMMON type
    scale (max over the literals): [1.0, 2.12] renders as 1.00, 2.12."""
    from decimal import Decimal

    decs = [x for x in vals if isinstance(x, Decimal)]
    if not decs or any(
        not (isinstance(x, Decimal) or x is None or x is _JSON_NULL)
        for x in vals
    ):
        return vals
    from decimal import localcontext

    smax = max(-d.as_tuple().exponent for d in decs)
    q = Decimal(1).scaleb(-max(smax, 0))
    with localcontext() as ctx:
        ctx.prec = 100  # default 28 rejects 38-digit Presto decimals
        try:
            return [
                x.quantize(q) if isinstance(x, Decimal) else x for x in vals
            ]
        except ArithmeticError:
            # out-of-double-range literal (e.g. 9.6E400, JF136): keep the
            # source rendering rather than overflow
            return vals


def _render_canonical_json(v) -> str:
    """Compact canonical JSON text for a parsed literal value (map keys
    stringified like Presto's key rendering)."""
    import json as _json
    from decimal import Decimal

    if v is None or v is _JSON_NULL:
        return "null"
    if v is True:
        return "true"
    if v is False:
        return "false"
    if isinstance(v, Decimal):
        # 'f' format: str(Decimal('0E-16')) is scientific, Presto
        # renders the plain scaled form 0.0000000000000000 (MO200)
        return format(v, "f")
    if isinstance(v, (int, float)):
        return _json.dumps(v)
    if isinstance(v, str):
        return _json.dumps(v, ensure_ascii=False)
    if isinstance(v, list):
        return (
            "["
            + ",".join(
                _render_canonical_json(x) for x in _unify_decimal_scales(v)
            )
            + "]"
        )
    if isinstance(v, dict):
        keys = _unify_decimal_scales(list(v.keys()))
        vals = _unify_decimal_scales(list(v.values()))
        items = []
        for k, val in zip(keys, vals):
            if k is True:
                ks = "true"
            elif k is False:
                ks = "false"
            elif isinstance(k, Decimal):
                ks = format(k, "f")  # plain form, never scientific (MO200)
            else:
                ks = k if isinstance(k, str) else str(k)
            items.append(
                (
                    ks,
                    _json.dumps(ks, ensure_ascii=False)
                    + ":"
                    + _render_canonical_json(val),
                )
            )
        # Presto's JSON canonical form is ordered-by-key
        # (JsonFunctions SORTED_MAPPER, ORDER_MAP_ENTRIES_BY_KEYS)
        return "{" + ",".join(t for _, t in sorted(items)) + "}"
    raise ValueError(f"unrenderable {v!r}")


def _rewrite_cast_to_json(sql: str, scalar_cols: frozenset = frozenset()) -> str:
    """Presto ``CAST(e AS JSON)`` → Presto-canonical JSON text.

    Presto's JSON cast serializes ROW values as JSON ARRAYS of field
    values (RowToJsonCast.java builds a json array, no field names)
    while Spark's ``to_json`` emits objects. Two lowerings:

    1. **JVM fast path** — ``CAST(ROW(e1, …, en) AS JSON)`` where every
       argument is provably struct-free (literals / catalog columns whose
       voted type contains no struct): pure expressions,
       ``concat('[', concat_ws(',', <per-element to_json strips>), ']')``
       — stays inside whole-stage codegen, safe in 100-TB projections.
    2. **Fallback** — ``presto_json_canon(to_json(struct(e), <keep
       nulls>), typeof(e))``: the one-field struct wrapper lets
       scalars/maps/arrays serialize through the same path, and the
       runtime DDL string from ``typeof`` tells the canonicalizer
       (functions/__init__.py) which objects are structs (→ arrays) vs
       maps (→ stay objects). Python UDF — compat surface, not a hot
       path (SHOW FUNCTIONS note).

    Spark's option validation requires a literal map() call, so
    _rewrite_map_from_arrays skips 2-arg map() whose args are both
    quoted scalars."""
    i = 0
    while True:
        m = _CAST_OPEN_RE.search(sql, i)
        if not m:
            return sql
        j = _scan(sql).close(m.end())
        inner = sql[m.end() : j - 1]
        as_pos = _scan(inner).last_top(_SPACED_AS_RE)
        if as_pos is None or inner[as_pos + 4 :].strip().upper() != "JSON":
            i = m.end()
            continue
        expr = inner[:as_pos].strip()
        if re.fullmatch(r"(?i)NULL", expr):
            # CAST(NULL AS JSON) is the JSON null value — the string
            # emulation's NULL cell (JsonOperators nullToJson)
            sql = sql[: m.start()] + "CAST(NULL AS STRING)" + sql[j:]
            i = m.start() + 1
            continue
        try:
            # literal composite (JSON/ARRAY/MAP/ROW built from literals):
            # fold to the canonical compact JSON text at rewrite time —
            # JSON-typed elements embed raw, which the runtime paths
            # (string-typed emulation) cannot reconstruct
            parsed = _parse_literal_json_value(expr)
            if parsed is None:
                # SQL NULL operand → SQL NULL json cell (the x-to-json
                # casts are RETURN_NULL_ON_NULL); JSON 'null' keeps the
                # json null TEXT via the _JSON_NULL sentinel
                sql = sql[: m.start()] + "CAST(NULL AS STRING)" + sql[j:]
                i = m.start() + 1
                continue
            folded = _render_canonical_json(parsed)
        except ValueError:
            folded = None
        if folded is not None:
            # Spark string literals process C escapes: double the
            # backslashes JSON escaping introduced (\" inside strings)
            repl = (
                "'"
                + folded.replace("\\", "\\\\").replace("'", "''")
                + "'"
            )
            sql = sql[: m.start()] + repl + sql[j:]
            i = m.start() + len(repl)
            continue
        rm = re.fullmatch(r"(?is)ROW\s*\((.*)\)", expr)
        args = _scan(rm.group(1)).items() if rm else None
        if args and all(_flat_scalar_row_arg(a, scalar_cols) for a in args):
            elems = ", ".join(_jvm_json_elem(a) for a in args)
            repl = f"concat('[', concat_ws(',', {elems}), ']')"
        else:
            repl = (
                f"presto_json_canon(to_json(struct({expr}), "
                "map('ignoreNullFields', 'false')), "
                f"typeof({expr}))"
            )
        sql = sql[: m.start()] + repl + sql[j:]
        i = m.start()


def _json_scalar_coercion(t: str, v: str) -> str | None:
    """Presto's JSON-value → scalar coercions (JsonToMapCast /
    JsonUtil.java): true/false map to 1/0 for numeric targets, numbers
    to booleans by ≠ 0, decimal text rounds HALF-UP into integer
    targets, and 'NaN'/'Infinity' parse for floating targets. Input
    ``v`` is the value's raw JSON lexeme parsed as STRING."""
    t = t.lower()
    if t == "boolean":
        return (
            f"CASE WHEN {v} IS NULL THEN CAST(NULL AS BOOLEAN) "
            f"WHEN {v} = 'true' THEN true WHEN {v} = 'false' THEN false "
            f"ELSE CAST({v} AS DOUBLE) <> 0.0D END"
        )
    if t in ("tinyint", "smallint", "int", "integer", "bigint"):
        tt = "int" if t == "integer" else t
        return (
            f"CASE WHEN {v} IS NULL THEN CAST(NULL AS {tt}) "
            f"WHEN {v} = 'true' THEN CAST(1 AS {tt}) "
            f"WHEN {v} = 'false' THEN CAST(0 AS {tt}) "
            f"ELSE CAST(round(CAST({v} AS DECIMAL(38,8))) AS {tt}) END"
        )
    if t in ("float", "real", "double") or t.startswith("decimal"):
        tt = "float" if t == "real" else t
        return (
            f"CASE WHEN {v} IS NULL THEN CAST(NULL AS {tt}) "
            f"WHEN {v} = 'true' THEN CAST(1 AS {tt}) "
            f"WHEN {v} = 'false' THEN CAST(0 AS {tt}) "
            f"ELSE CAST({v} AS {tt}) END"
        )
    return None


def _json_row_cast_expr(expr: str, ttype: str) -> str | None:
    """``CAST(json AS ROW(f1 T1, …))`` (JsonToRowCast.java): a JSON
    ARRAY binds fields POSITIONALLY, a JSON OBJECT binds by field name,
    JSON null → SQL NULL row, and each field value applies Presto's
    JSON coercions. Spark's from_json cannot parse a JSON array into a
    struct (and nulls mixed-typed fields), so each field extracts its
    raw lexeme via get_json_object (number text survives at full
    precision) and coerces. JSON-typed fields keep the literal 'null'
    TEXT (the json null value); every other type maps it to SQL NULL.
    Returns None when ``ttype`` is not a ROW(...) form."""
    m = re.match(r"^ROW\s*\((.*)\)$", ttype.strip(), re.IGNORECASE | re.DOTALL)
    if not m:
        return None
    if re.fullmatch(r"(?is)[\s(]*NULL[\s)]*", expr):
        return "NULL"  # CAST(NULL AS ROW(…)) is SQL NULL
    parts = []
    e = f"({expr})"
    arr_form = f"startswith(ltrim({e}), '[')"
    for i, f in enumerate(_scan(m.group(1)).split(",", "(<")):
        f = f.strip()
        fm = re.match(r"^(\w+)\s+(.+)$", f, re.DOTALL)
        if fm and _presto_type_to_spark(fm.group(2)) is not None:
            fname, ptype = fm.group(1), fm.group(2).strip()
        else:
            fname, ptype = f"col{i + 1}", f
        spark_t = _presto_type_to_spark(ptype)
        if spark_t is None:
            return None
        txt = (
            f"(CASE WHEN {arr_form} "
            f"THEN get_json_object({e}, '$[{i}]') "
            f"ELSE get_json_object({e}, '$.{fname}') END)"
        )
        base = ptype.upper().split("(")[0].strip()
        nn = f"nullif({txt}, 'null')"
        if base == "JSON":
            # json null VALUE keeps its text form. Object form:
            # get_json_object cannot distinguish an explicit null value
            # from a missing key, so check key presence — present+NULL
            # text ⇒ the json null value; absent ⇒ SQL NULL
            val = (
                f"(CASE WHEN {arr_form} "
                f"THEN get_json_object({e}, '$[{i}]') "
                f"WHEN array_contains(json_object_keys({e}), '{fname}') "
                f"THEN coalesce(get_json_object({e}, '$.{fname}'), 'null') "
                f"ELSE NULL END)"
            )
        elif base in ("VARCHAR", "CHAR"):
            val = nn
        elif spark_t.startswith(("struct<",)):
            val = _json_row_cast_expr(nn, ptype) or f"from_json({nn}, '{spark_t}')"
        elif spark_t.startswith(("array<", "map<")):
            val = _json_parse_expr(nn, spark_t)
        else:
            coerce = _json_scalar_coercion(spark_t, nn)
            val = coerce if coerce is not None else f"CAST({nn} AS {spark_t})"
        parts.append(f"'{fname}', {val}")
    built = f"named_struct({', '.join(parts)})"
    return (
        f"(CASE WHEN {e} IS NULL OR trim({e}) = 'null' THEN NULL "
        f"ELSE {built} END)"
    )


def _json_composite_parse(expr: str, ttype: str, schema: str) -> str:
    """JSON-text operand → the Presto type ``ttype`` (Spark DDL
    ``schema``): ROW targets (and ARRAY/MAP of ROW) go through the
    get_json_object field builder — positional-array binding and
    per-field coercion that from_json cannot express; everything else
    takes the from_json route."""
    row_rep = _json_row_cast_expr(expr, ttype)
    if row_rep is not None:
        return row_rep
    t = ttype.strip()
    am = re.match(r"^ARRAY\s*[(<](.*)[)>]$", t, re.IGNORECASE | re.DOTALL)
    if am and re.match(r"^ROW\s*\(", am.group(1).strip(), re.IGNORECASE):
        rb = _json_row_cast_expr("__je", am.group(1).strip())
        if rb is not None:
            e = f"({expr})"
            return (
                f"(CASE WHEN {e} IS NULL OR trim({e}) = 'null' THEN NULL "
                f"ELSE transform(from_json({e}, 'array<string>'), "
                f"__je -> {rb}) END)"
            )
    am2 = re.match(r"^ARRAY\s*[(<](.*)[)>]$", t, re.IGNORECASE | re.DOTALL)
    if am2 and am2.group(1).strip().upper() == "JSON":
        # ARRAY(JSON): elements stay JSON TEXT fragments
        e = f"({expr})"
        return (
            f"(CASE WHEN {e} IS NULL OR trim({e}) = 'null' THEN NULL "
            f"ELSE __presto_json_fragment_array({e}) END)"
        )
    mm = re.match(r"^MAP\s*[(<](.*)[)>]$", t, re.IGNORECASE | re.DOTALL)
    if mm:
        kv = _scan(mm.group(1)).split(",", "(<")
        if len(kv) == 2 and kv[1].strip().upper() == "JSON":
            # MAP(K, JSON): values stay JSON TEXT fragments
            # (JsonToMapCast with JSON value type — MO380)
            key = _presto_type_to_spark(kv[0].strip())
            e = f"({expr})"
            base = f"__presto_json_fragment_map({e})"
            if key is not None and key != "string":
                base = (
                    f"transform_keys({base}, "
                    f"(__jk, __jv2) -> CAST(__jk AS {key}))"
                )
            return (
                f"(CASE WHEN {e} IS NULL OR trim({e}) = 'null' THEN NULL "
                f"ELSE {base} END)"
            )
        if len(kv) == 2 and re.match(
            r"^ROW\s*\(", kv[1].strip(), re.IGNORECASE
        ):
            rb = _json_row_cast_expr("__jv", kv[1].strip())
            key = _presto_type_to_spark(kv[0].strip())
            if rb is not None and key is not None:
                e = f"({expr})"
                base = (
                    f"transform_values(from_json({e}, "
                    f"'map<string,string>'), (__jk0, __jv) -> {rb})"
                )
                if key != "string":
                    base = (
                        f"transform_keys({base}, "
                        f"(__jk, __jv2) -> CAST(__jk AS {key}))"
                    )
                return (
                    f"(CASE WHEN {e} IS NULL OR trim({e}) = 'null' "
                    f"THEN NULL ELSE {base} END)"
                )
    return _json_parse_expr(expr, schema)


def _json_parse_expr(expr: str, schema: str) -> str:
    """``from_json`` spelling for a JSON-string operand and a Spark DDL
    schema — routing non-string map keys (MAP<TINYINT,...>, MAP<BOOLEAN,
    ...>: JsonToMapCast.java key coercions) through a string-keyed parse
    plus transform_keys, since Spark's from_json only accepts STRING
    keys (INVALID_JSON_MAP_KEY_TYPE); scalar map VALUES likewise parse
    as raw text and coerce per Presto's JSON rules (mixed true/12.7/"12"
    inputs — from_json's strict typing would null the whole map)."""
    km = re.match(r"^map<(.+)>$", schema, re.DOTALL)
    key, *rest = _scan(km.group(1)).split(",", "(<") if km else [""]
    if rest:
        key, val = key.strip(), ",".join(rest).strip()
        coerce = _json_scalar_coercion(val, "__jv")
        if coerce is not None:
            # strict parse first — it reads numeric lexemes at
            # full precision (the string-valued parse routes
            # numbers through double, corrupting wide decimals,
            # MO481); the coercion path only engages when mixed
            # true/"12"/12.7 values null the strict parse
            strict = f"from_json({expr}, 'map<string,{val}>')"
            base = (
                f"coalesce({strict}, "
                f"transform_values(from_json({expr}, "
                f"'map<string,string>'), (__jk0, __jv) -> "
                f"{coerce}))"
            )
        elif key != "string":
            base = f"from_json({expr}, 'map<string,{val}>')"
        else:
            return f"from_json({expr}, '{schema}')"
        if key != "string":
            base = (
                f"transform_keys({base}, "
                f"(__jk, __jv2) -> CAST(__jk AS {key}))"
            )
        return base
    return f"from_json({expr}, '{schema}')"


def _rewrite_json_casts(sql: str) -> str:
    """Presto ``CAST(json AS MAP(...)|ARRAY(...)|ROW(...))`` →
    ``from_json(expr, '<spark schema>')`` (reference JsonToMapCast.java /
    JsonToArrayCast.java / JsonToRowCast.java). Presto's parenthesized
    complex-type syntax only exists on JSON casts, so the translation is
    unambiguous; Spark's angle-bracket casts pass through untouched."""
    i = 0
    while True:
        m = _CAST_OPEN_RE.search(sql, i)
        if not m:
            return sql
        j = _scan(sql).close(m.end())
        inner = sql[m.end() : j - 1]
        # last top-level " AS " splits expr from target type
        as_pos = _scan(inner).last_top(_SPACED_AS_RE)
        if as_pos is None:
            i = m.end()
            continue
        ttype = inner[as_pos + 4 :].strip()
        if not re.match(r"^(MAP|ARRAY|ROW)\s*[(<]", ttype, re.IGNORECASE):
            i = m.end()
            continue
        expr = inner[:as_pos]
        is_ctor = bool(
            re.match(
                r"^\s*(?:row|struct|array|map|map_from_arrays"
                r"|map_from_entries)\s*\(",
                expr,
                re.IGNORECASE,
            )
            or re.match(r"^\s*cast\s*\(\s*row\s*\(", expr, re.IGNORECASE)
            or re.match(r"^\s*array\s*\[", expr, re.IGNORECASE)
        )
        if (
            re.match(r"^(MAP|ARRAY|ROW|STRUCT)\s*<", ttype, re.IGNORECASE)
            and "(" not in ttype
        ):
            # paren-free angle form is MOSTLY Spark syntax already — but
            # bare VARCHAR/VARBINARY inside it are Presto-only (Spark
            # demands a length), and a STRING operand can't CAST to a
            # complex type at all (it needs the from_json route, like
            # the paren form). Constructors and arbitrary columns keep
            # the plain CAST with the type tokens normalized in place.
            # A fixed-point guard below prevents the round-8 span loop.
            fixed = re.sub(
                r"(?i)\bVARCHAR\b(?!\s*\()", "STRING",
                re.sub(r"(?i)\bVARBINARY\b", "BINARY", ttype),
            )
            if not is_ctor and re.fullmatch(
                r"(?is)\s*(?:(?:JSON\s*)?'(?:[^']|'')*'|NULL"
                r"|CAST\s*\(\s*NULL\s+AS\s+(?:STRING|VARCHAR|JSON)\s*\)"
                r"|(?:presto_json_canon|to_json|json_format)\s*\(.*)\s*",
                expr,
            ):
                # provably-JSON-string operand (a lowered JSON literal or
                # a JSON-producing call): parse, like the paren form
                schema = _presto_type_to_spark(ttype)
                if schema is not None:
                    rep = _json_composite_parse(expr, ttype, schema)
                    sql = sql[: m.start()] + rep + sql[j:]
                    i = m.start() + 1  # rescan inside expr, not this span
                    continue
            kw = sql[m.start() : m.end() - 1].rstrip()  # CAST / TRY_CAST
            rep = f"{kw}({expr} AS {fixed})"
            if rep == sql[m.start() : j]:  # fixed point: never loop
                i = j
                continue
            sql = sql[: m.start()] + rep + sql[j:]
            i = m.start() + 1
            continue
        schema = _presto_type_to_spark(ttype)
        if schema is None:
            i = m.end()
            continue
        # ROW target over a row/struct constructor is Presto's NAMED ROW
        # CAST (assigns field names, RowType coercion) — a plain Spark
        # struct cast, not a JSON parse; likewise a MAP/ARRAY target over
        # a map/array constructor is an element-type coercion
        # (CAST(map(ARRAY[],ARRAY[]) AS MAP(BIGINT,VARCHAR))). JSON
        # strings/columns keep the from_json route (JsonToRowCast.java).
        if is_ctor:
            rep = f"CAST({expr} AS {schema})"
        else:
            rep = _json_composite_parse(expr, ttype, schema)
        if rep == sql[m.start() : j]:  # fixed point: never re-scan in place
            i = j
            continue
        sql = sql[: m.start()] + rep + sql[j:]
        i = m.start()


def _parse_char_cast(sql: str, m) -> tuple[str, str, int, int] | None:
    """If the CAST opening at match ``m`` targets CHAR(n), return
    (cast_keyword, operand_text, n, end_of_span); else None."""
    j = _scan(sql).close(m.end())
    inner = sql[m.end() : j - 1]
    as_pos = _scan(inner).last_top(_SPACED_AS_RE)
    if as_pos is None:
        return None
    tm = re.match(
        r"^CHAR\s*\(\s*(\d+)\s*\)\s*$", inner[as_pos + 4 :].strip(),
        re.IGNORECASE,
    )
    if not tm:
        return None
    cast_kw = sql[m.start() : m.end() - 1].strip().upper().split("(")[0]
    return cast_kw, inner[:as_pos], int(tm.group(1)), j


_CHAR_CMP_OP_RE = re.compile(r"\s*(IS\s+NOT\s+DISTINCT\s+FROM|IS\s+DISTINCT\s+FROM|<>|!=|<=|>=|=|<|>)\s*", re.IGNORECASE)

_SUBQ_SELECT_RE = re.compile(r"\(\s*SELECT\b", re.IGNORECASE)


def _derived_select_aliases(sql: str) -> list[tuple[str, str]]:
    """(defining-expression text, alias) for every top-level select item
    with an explicit ``AS <ident>`` alias inside every parenthesized
    SELECT (derived tables, CTE bodies). One derived-table level of
    declared-type propagation: outer scopes treat these alias names as
    carrying the type of their defining expression (the alias-boundary
    gap for emulated types — char(n), ipaddress, provably-double)."""
    out: list[tuple[str, str]] = []
    mask = _literal_mask(sql)
    for m in _SUBQ_SELECT_RE.finditer(sql):
        if mask[m.start()]:
            continue
        close = _scan(sql).close(m.start() + 1)
        body = sql[m.start() + 1 : close - 1]
        sm = re.match(
            r"\s*SELECT\s+(?:DISTINCT\s+|ALL\s+)?", body, re.IGNORECASE
        )
        if sm is None:
            continue
        fpos = next((m.start() for m in _scan(body).top_matches(_FROM_RE)), -1)
        items = body[sm.end() : fpos if fpos >= 0 else len(body)]
        for item in _scan(items).items():
            am = re.search(r"\s+AS\s+([A-Za-z_]\w*)\s*$", item, re.IGNORECASE)
            if am:
                out.append((item[: am.start()].strip(), am.group(1).lower()))
    return out


_CHAR_IDENT_RE = r"(?:[A-Za-z_]\w*\.)?[A-Za-z_]\w*"


def _char_alias_lengths(sql: str, seed=None) -> dict[str, int]:
    """alias → declared n for select items shaped ``CAST(e AS CHAR(n))
    AS alias`` inside derived tables / CTEs. Fixpointed so a bare
    re-aliasing (``SELECT c1 AS c2`` over a char(n) alias) carries the
    declared length through ANY number of levels (round 9); ``seed``
    carries char(n) VIEW columns across statement boundaries
    (round 10)."""
    out: dict[str, int] = dict(seed or {})
    aliases = _derived_select_aliases(sql)
    for _ in range(max(len(aliases), 1)):
        grew = False
        for expr, alias in aliases:
            if alias in out:
                continue
            em = _CAST_OPEN_RE.match(expr)
            parsed = _parse_char_cast(expr, em) if em else None
            if parsed is not None and parsed[3] == len(expr):
                out[alias] = parsed[2]
                grew = True
                continue
            im = re.fullmatch(rf"\s*({_CHAR_IDENT_RE})\s*", expr)
            if im:
                n = out.get(im.group(1).rsplit(".", 1)[-1].lower())
                if n is not None:
                    out[alias] = n
                    grew = True
        if not grew:
            break
    return out


def _char_alias_cmp_pass(sql: str, aliases: dict[str, int]) -> str:
    """Cross-length char comparisons where one or both sides are known
    char(n) ALIASES (their values are already padded to their declared
    length by the defining cast's rewrite): pad the shorter side to the
    common length, like Chars.java compareChars."""
    if not aliases:
        return sql

    def _alias_len(ident: str) -> int | None:
        return aliases.get(ident.rsplit(".", 1)[-1].lower())

    # alias <op> CAST(e AS CHAR(m))  — and the mirrored cast <op> alias
    a_re = re.compile(
        rf"(?<![\w.'])({_CHAR_IDENT_RE})\s*(IS\s+NOT\s+DISTINCT\s+FROM|IS\s+DISTINCT\s+FROM|<>|!=|<=|>=|=|<|>)\s*"
        r"(?=(?:TRY_)?CAST\s*\()",
        re.IGNORECASE,
    )
    i = 0
    while True:
        mask = _literal_mask(sql)
        m = a_re.search(sql, i)
        if not m:
            break
        n1 = None if mask[m.start()] else _alias_len(m.group(1))
        cm = _CAST_OPEN_RE.match(sql, m.end())
        parsed = _parse_char_cast(sql, cm) if (cm and n1) else None
        if parsed is None:
            i = m.end()
            continue
        kw, expr, n2, j = parsed
        n = max(n1, n2)
        lhs = m.group(1) if n == n1 else f"rpad({m.group(1)}, {n}, ' ')"
        rep = f"{lhs} {m.group(2)} rpad({kw}({expr} AS STRING), {n}, ' ')"
        sql = sql[: m.start()] + rep + sql[j:]
        i = m.start() + len(rep)
    b_re = re.compile(
        rf"\s*(IS\s+NOT\s+DISTINCT\s+FROM|IS\s+DISTINCT\s+FROM|<>|!=|<=|>=|=|<|>)\s*({_CHAR_IDENT_RE})(?![\w.(])",
        re.IGNORECASE,
    )
    i = 0
    while True:
        mask = _literal_mask(sql)
        cm = _CAST_OPEN_RE.search(sql, i)
        if not cm:
            break
        parsed = None if mask[cm.start()] else _parse_char_cast(sql, cm)
        if parsed is None:
            i = cm.end()
            continue
        kw, expr, n1, j = parsed
        om = b_re.match(sql, j)
        n2 = _alias_len(om.group(2)) if om else None
        if n2 is None:
            i = cm.end()
            continue
        n = max(n1, n2)
        rhs = om.group(2) if n == n2 else f"rpad({om.group(2)}, {n}, ' ')"
        rep = f"rpad({kw}({expr} AS STRING), {n}, ' ') {om.group(1)} {rhs}"
        sql = sql[: cm.start()] + rep + sql[om.end() :]
        i = cm.start() + len(rep)
    # alias <op> alias with different declared lengths
    c_re = re.compile(
        rf"(?<![\w.'])({_CHAR_IDENT_RE})\s*(IS\s+NOT\s+DISTINCT\s+FROM|IS\s+DISTINCT\s+FROM|<>|!=|<=|>=|=|<|>)\s*"
        rf"({_CHAR_IDENT_RE})(?![\w.(])",
        re.IGNORECASE,
    )
    i = 0
    while True:
        mask = _literal_mask(sql)
        m = c_re.search(sql, i)
        if not m:
            break
        if mask[m.start()]:
            i = m.end()
            continue
        n1, n2 = _alias_len(m.group(1)), _alias_len(m.group(3))
        if n1 is None or n2 is None or n1 == n2:
            i = m.end()
            continue
        n = max(n1, n2)
        lhs = m.group(1) if n == n1 else f"rpad({m.group(1)}, {n}, ' ')"
        rhs = m.group(3) if n == n2 else f"rpad({m.group(3)}, {n}, ' ')"
        rep = f"{lhs} {m.group(2)} {rhs}"
        sql = sql[: m.start()] + rep + sql[m.end() :]
        i = m.start() + len(rep)
    return sql


def _lit_codepoints(lit: str) -> int:
    """Code-point length of a SQL string literal's value ('' = escaped
    quote)."""
    return len(lit[1:-1].replace("''", "'"))


def _char_vs_literal_cmp_pass(sql: str, aliases: dict[str, int]) -> str:
    """char(n) cast or alias facing a varchar string literal across a
    comparison: pad BOTH to max(n, literal length) per Presto's
    char/varchar coercion (a literal longer than n only matches when its
    tail is the padding spaces — exactly what common-length rpad gives)."""
    # cast/alias OP literal
    i = 0
    while True:
        mask = _literal_mask(sql)
        m = _CAST_OPEN_RE.search(sql, i)
        if not m:
            break
        parsed = None if mask[m.start()] else _parse_char_cast(sql, m)
        if parsed is None:
            i = m.end()
            continue
        kw, expr, n, j = parsed
        om = re.compile(
            rf"\s*(IS\s+NOT\s+DISTINCT\s+FROM|IS\s+DISTINCT\s+FROM|<>|!=|<=|>=|=|<|>)\s*({_SQL_STR_LIT})(?!')",
            re.IGNORECASE,
        ).match(sql, j)
        if om is None:
            i = m.end()
            continue
        nn = max(n, _lit_codepoints(om.group(2)))
        rep = (
            f"rpad({kw}({expr} AS STRING), {nn}, ' ') {om.group(1)} "
            f"rpad({om.group(2)}, {nn}, ' ')"
        )
        sql = sql[: m.start()] + rep + sql[om.end() :]
        i = m.start() + len(rep)
    # literal OP cast
    lit_re = re.compile(
        rf"({_SQL_STR_LIT})\s*(IS\s+NOT\s+DISTINCT\s+FROM|IS\s+DISTINCT\s+FROM|<>|!=|<=|>=|=|<|>)\s*(?=(?:TRY_)?CAST\s*\()",
        re.IGNORECASE,
    )
    i = 0
    while True:
        m = lit_re.search(sql, i)
        if not m:
            break
        mask = _literal_mask(sql)
        # the literal itself is masked; require its OPENING quote to be
        # the literal start (not inside a bigger literal)
        if m.start() > 0 and mask[m.start()] and mask[m.start() - 1]:
            i = m.end()
            continue
        cm = _CAST_OPEN_RE.match(sql, m.end())
        parsed = _parse_char_cast(sql, cm) if cm else None
        if parsed is None:
            i = m.end()
            continue
        kw, expr, n, j = parsed
        nn = max(n, _lit_codepoints(m.group(1)))
        rep = (
            f"rpad({m.group(1)}, {nn}, ' ') {m.group(2)} "
            f"rpad({kw}({expr} AS STRING), {nn}, ' ')"
        )
        sql = sql[: m.start()] + rep + sql[j:]
        i = m.start() + len(rep)
    # alias OP literal / literal OP alias
    if aliases:
        def _alias_len(ident):
            return aliases.get(ident.rsplit(".", 1)[-1].lower())

        a_re = re.compile(
            rf"(?<![\w.'])({_CHAR_IDENT_RE})\s*(IS\s+NOT\s+DISTINCT\s+FROM|IS\s+DISTINCT\s+FROM|<>|!=|<=|>=|=|<|>)\s*"
            rf"({_SQL_STR_LIT})(?!')",
            re.IGNORECASE,
        )
        i = 0
        while True:
            mask = _literal_mask(sql)
            m = a_re.search(sql, i)
            if not m:
                break
            n1 = None if mask[m.start()] else _alias_len(m.group(1))
            if n1 is None:
                i = m.end()
                continue
            nn = max(n1, _lit_codepoints(m.group(3)))
            lhs = m.group(1) if nn == n1 else f"rpad({m.group(1)}, {nn}, ' ')"
            rep = f"{lhs} {m.group(2)} rpad({m.group(3)}, {nn}, ' ')"
            sql = sql[: m.start()] + rep + sql[m.end() :]
            i = m.start() + len(rep)
        b_re = re.compile(
            rf"({_SQL_STR_LIT})\s*(IS\s+NOT\s+DISTINCT\s+FROM|IS\s+DISTINCT\s+FROM|<>|!=|<=|>=|=|<|>)\s*"
            rf"({_CHAR_IDENT_RE})(?![\w.(])",
            re.IGNORECASE,
        )
        i = 0
        while True:
            mask = _literal_mask(sql)
            m = b_re.search(sql, i)
            if not m:
                break
            if m.start() > 0 and mask[m.start()] and mask[m.start() - 1]:
                i = m.end()
                continue
            n2 = _alias_len(m.group(3))
            if n2 is None:
                i = m.end()
                continue
            nn = max(n2, _lit_codepoints(m.group(1)))
            rhs = m.group(3) if nn == n2 else f"rpad({m.group(3)}, {nn}, ' ')"
            rep = f"rpad({m.group(1)}, {nn}, ' ') {m.group(2)} {rhs}"
            sql = sql[: m.start()] + rep + sql[m.end() :]
            i = m.start() + len(rep)
    return sql


def _char_between_pass(sql: str) -> str:
    """``A BETWEEN B AND C`` where every side is a char cast or string
    literal (and at least one is a char cast): pad all three to the
    common length per compareChars."""
    i = 0
    while True:
        m = _CAST_OPEN_RE.search(sql, i)
        if not m:
            return sql
        parsed = _parse_char_cast(sql, m)
        if parsed is None:
            i = m.end()
            continue

        def _side(pos):
            """(render(n), length, end) for a char cast or literal at pos."""
            cm = _CAST_OPEN_RE.match(sql, pos)
            p = _parse_char_cast(sql, cm) if cm else None
            if p is not None:
                kw, expr, n, j = p
                return (
                    lambda nn: f"rpad({kw}({expr} AS STRING), {nn}, ' ')",
                    n,
                    j,
                )
            lm = re.match(_SQL_STR_LIT, sql[pos:])
            if lm:
                lit = lm.group(0)
                return (
                    lambda nn: f"rpad({lit}, {nn}, ' ')",
                    _lit_codepoints(lit),
                    pos + lm.end(),
                )
            return None

        kw1, expr1, n1, j1 = parsed
        bm = re.compile(r"\s+(NOT\s+)?BETWEEN\s+", re.IGNORECASE).match(
            sql, j1
        )
        lo = _side(bm.end()) if bm else None
        am = (
            re.compile(r"\s+AND\s+", re.IGNORECASE).match(sql, lo[2])
            if lo
            else None
        )
        hi = _side(am.end()) if am else None
        if hi is None:
            i = m.end()
            continue
        nn = max(n1, lo[1], hi[1])
        neg = "NOT " if bm.group(1) else ""
        rep = (
            f"rpad({kw1}({expr1} AS STRING), {nn}, ' ') {neg}BETWEEN "
            f"{lo[0](nn)} AND {hi[0](nn)}"
        )
        sql = sql[: m.start()] + rep + sql[hi[2] :]
        i = m.start() + len(rep)


def _rewrite_char_casts(sql: str, char_seed=None) -> str:
    """Presto ``CAST(e AS CHAR(n))`` pads to length n (Chars.java
    padSpaces; char(n) is a fixed-width type). Spark treats the cast as a
    bare string, so rewrite to ``rpad(CAST(e AS STRING), n, ' ')`` —
    value, length() and ORDER BY semantics then match.

    Cross-length comparison (Chars.java compareChars pads BOTH sides to
    the common length): when two char casts of different declared
    lengths face each other across a comparison operator, both pad to
    ``max(n, m)``, so ``CAST('a' AS CHAR(2)) = CAST('a' AS CHAR(5))`` is
    TRUE, matching Presto. Round 8 additionally tracks declared lengths
    through ONE derived-table/CTE alias level (_char_alias_lengths), so
    an aliased char compares cross-length too; deeper alias chains keep
    the direct padded comparison (README Known gaps)."""
    # pass 0: declared lengths of subquery aliases (+ view-column seed)
    aliases = _char_alias_lengths(sql, char_seed)
    # pass 1: adjacent cross-length comparisons → common-length pads
    i = 0
    while True:
        m = _CAST_OPEN_RE.search(sql, i)
        if not m:
            break
        left = _parse_char_cast(sql, m)
        if left is None:
            i = m.end()
            continue
        kw1, expr1, n1, j1 = left
        om = _CHAR_CMP_OP_RE.match(sql, j1)
        if om is None:
            i = m.end()
            continue
        m2 = _CAST_OPEN_RE.match(sql, om.end())
        right = _parse_char_cast(sql, m2) if m2 else None
        if right is None:
            i = m.end()
            continue
        kw2, expr2, n2, j2 = right
        n = max(n1, n2)
        sql = (
            sql[: m.start()]
            + f"rpad({kw1}({expr1} AS STRING), {n}, ' ') {om.group(1)} "
            + f"rpad({kw2}({expr2} AS STRING), {n}, ' ')"
            + sql[j2:]
        )
        i = m.start() + 1
    # pass 1b: comparisons with one or both sides a known char alias
    sql = _char_alias_cmp_pass(sql, aliases)
    # pass 1c: char cast vs varchar STRING LITERAL — Presto coerces the
    # varchar to char and compares padded to the common length, so
    # cast('bar' as char(5)) = 'bar' AND = 'bar   ' are both TRUE
    # (CharOperators + Chars.padSpaces); pad both sides to
    # max(n, length(literal))
    sql = _char_vs_literal_cmp_pass(sql, aliases)
    # pass 1d: BETWEEN over char casts/literals
    sql = _char_between_pass(sql)
    # pass 2: remaining lone casts → declared-length pad
    i = 0
    while True:
        m = _CAST_OPEN_RE.search(sql, i)
        if not m:
            return sql
        parsed = _parse_char_cast(sql, m)
        if parsed is None:
            i = m.end()
            continue
        cast_kw, expr, n, j = parsed
        sql = (
            sql[: m.start()]
            + f"rpad({cast_kw}({expr} AS STRING), {n}, ' ')"
            + sql[j:]
        )
        i = m.start()


# window functions that IGNORE the frame in Presto (ranking + offset,
# WindowFunctionDefinition frameless set); Spark rejects an explicit frame
# on them, so any frame clause in their OVER spec is dropped.
_FRAMELESS_OVER_RE = re.compile(
    r"\b(lead|lag|rank|dense_rank|percent_rank|row_number|ntile|cume_dist"
    r"|first_value|last_value)\s*\(",
    re.IGNORECASE,
)
_FRAME_TAIL_RE = re.compile(
    # the frame clause runs from the ROWS/RANGE/GROUPS keyword to the end
    # of the OVER spec; a parenthesized bound expression (RANGE BETWEEN
    # (x+1) PRECEDING ...) is Presto-legal, so the tail may contain parens.
    # The follow set (BETWEEN/UNBOUNDED/CURRENT/number/paren) keeps an
    # ORDER BY on a column literally named "rows" from matching.
    r"\s+(ROWS|RANGE|GROUPS)\s+(?:BETWEEN\b|UNBOUNDED\b|CURRENT\b|\d|\().*$",
    re.IGNORECASE | re.DOTALL,
)


def _rewrite_frameless_window_frames(sql: str) -> str:
    """Strip frame clauses from frame-ignoring window functions — except
    first_value/last_value, where the frame is MEANINGFUL in Spark and
    Presto alike (they're excluded from the strip; listed in the regex
    only to document the family)."""
    strip_for = {
        "lead", "lag", "rank", "dense_rank", "percent_rank",
        "row_number", "ntile", "cume_dist",
    }
    pos = 0
    while True:
        m = next((
            c for c in _outside(_FRAMELESS_OVER_RE, sql, pos)
            if c.group(1).lower() in strip_for
        ), None)
        if m is None:
            return sql
        call_end = _scan(sql).close(m.end())
        om = re.match(r"\s*(?:IGNORE\s+NULLS\s*)?OVER\s*\(", sql[call_end:],
                      re.IGNORECASE)
        if not om:
            pos = call_end
            continue
        span_start = call_end + om.end()
        span_end = _scan(sql).close(span_start)
        spec = sql[span_start : span_end - 1]
        new_spec = _FRAME_TAIL_RE.sub("", spec)
        sql = sql[:span_start] + new_spec + sql[span_end - 1 :]
        pos = span_start + len(new_spec) + 1


_GROUPING_CALL_RE = re.compile(r"\bGROUPING\s*\(", re.IGNORECASE)
_GSETS_ANY_RE = re.compile(
    r"\bGROUPING\s+SETS\b|\bROLLUP\b|\bCUBE\b", re.IGNORECASE
)


def _rewrite_plain_grouping(sql: str) -> str:
    """``grouping(c)`` under a plain GROUP BY: Presto returns 0 for every
    grouped column (AbstractTestQueries.java testGrouping, the
    ``GROUP BY a`` cases); Spark's analyzer rejects grouping() outside
    GroupingSets/Cube/Rollup. Applied PER SCOPE, innermost first: each
    paren-enclosed subquery is folded independently, so a plain-GROUP-BY
    inner query under a grouping-sets outer query (or vice versa —
    AbstractTestQueries testGroupingInSubqueries' alternating shapes)
    folds exactly where Presto's rewrite applies and nowhere else."""
    if not _GROUPING_CALL_RE.search(sql):
        return sql
    mask = _literal_mask(sql)
    out, i = [], 0
    while i < len(sql):
        if sql[i] == "(" and not mask[i]:
            j = _scan(sql).close(i + 1)
            out.append("(" + _rewrite_plain_grouping(sql[i + 1 : j - 1]) + ")")
            i = j
        else:
            out.append(sql[i])
            i += 1
    return _plain_grouping_one_scope("".join(out))


def _plain_grouping_one_scope(sql: str) -> str:
    """One scope of :func:`_rewrite_plain_grouping`: fold grouping() to 0
    when this scope's own top-level GROUP BY is plain — but only when
    each argument verifiably appears in some GROUP BY list; otherwise
    the call is left for Spark's analyzer to reject, matching Presto's
    analysis error instead of silently returning 0. A grouping-set
    construct at this scope's top level bails (Spark handles natively
    after the multi-arg lowering); constructs inside subqueries are
    invisible here (they were already handled by their own scope)."""
    if not _GROUPING_CALL_RE.search(sql):
        return sql
    _pg_mask = _literal_mask(sql)
    _pg_sub = _subquery_mask(sql)
    if any(
        not _pg_sub[m.start()] and not _pg_mask[m.start()]
        for m in _GSETS_ANY_RE.finditer(sql)
    ):
        return sql  # the outer query itself uses grouping sets

    def _group_exprs() -> set[str]:
        mask = _literal_mask(sql)
        sub = _subquery_mask(sql)
        out: set[str] = set()
        for gm in re.finditer(r"\bGROUP\s+BY\b", sql, re.IGNORECASE):
            if mask[gm.start()] or sub[gm.start()]:
                continue
            j = _scan(sql).run(gm.end(), _GROUP_BY_END_RE, "(")[-1][1]
            out.update(
                " ".join(e.split()).lower()
                for e in _scan(sql[gm.end() : j]).items()
            )
        return out

    grouped = _group_exprs()
    i = 0
    while True:
        sub = _subquery_mask(sql)
        m = next((c for c in _outside(_GROUPING_CALL_RE, sql, i)
                  if not sub[c.start()]), None)
        if m is None:
            return sql
        end = _scan(sql).close(m.end())
        args = _scan(sql[m.end() : end - 1]).items()
        if args and all(" ".join(a.split()).lower() in grouped for a in args):
            sql = sql[: m.start()] + "0" + sql[end:]
            i = m.start() + 1
        else:
            i = end  # not a grouping column — leave for the analyzer


_GROUP_BY_END_RE = re.compile(
    r"(HAVING|ORDER|LIMIT|OFFSET|FETCH|UNION|INTERSECT|EXCEPT|WINDOW)\b",
    re.IGNORECASE,
)
_GOB_CHAIN_RE = re.compile(r"[A-Za-z_]\w*(?:\s*\.\s*[A-Za-z_]\w*)*")
_GOB_KEYWORDS = frozenset(
    "asc desc nulls first last and or not case when then else end is "
    "null in between like escape true false cast as interval distinct "
    "grouping grouping_id row array map exists".split()
)


def _rewrite_grouping_order_hoist(sql: str) -> str:
    """ORDER BY items under a GROUPING SETS/CUBE/ROLLUP statement that
    reference grouping columns hidden from the output scope, or call
    grouping(): Presto's ORDER BY resolves output aliases first, then
    the grouping input scope (AbstractTestQueries testGroupByOrderBy
    alias-shadowing sites, testGrouping ORDER BY grouping(b)); Spark's
    sort resolution does not reach through the Expand and fails with
    UNRESOLVED_COLUMN. Hoist each such sort item into a hidden
    derived-table projection — where grouping-column references ARE
    resolvable — and sort on the materialized column:

        SELECT a AS foo FROM t GROUP BY GROUPING SETS ((a), (a, b))
        HAVING b IS NOT NULL ORDER BY -a
        → SELECT * EXCEPT (__gob1) FROM (SELECT a AS foo, -a AS __gob1
          FROM t GROUP BY … HAVING …) __gobh ORDER BY __gob1

    Items whose identifiers touch an output alias are left alone — both
    engines resolve those against the output scope (Presto and Spark
    agree there). Subquery-bearing items are the other hoist's job."""
    if not re.match(r"\s*SELECT\b", sql, re.IGNORECASE):
        return sql
    obs = _scan(sql).top_matches(re.compile(r"\bORDER\s+BY\b", re.IGNORECASE))
    gbs = _scan(sql).top_matches(_GB_KEYWORD_RE)
    if len(obs) != 1 or len(gbs) != 1 or obs[0].start() < gbs[0].start():
        return sql
    if not any(
        gbs[0].end() <= m.start() < obs[0].start()
        for m in _scan(sql).top_matches(_GSETS_ANY_RE)
    ):
        return sql
    if _scan(sql).top_matches(re.compile(
        r"\b(UNION|INTERSECT|EXCEPT|DISTINCT)\b", re.IGNORECASE
    )):
        return sql
    froms = _scan(sql).top_matches(_FROM_RE)
    if not froms:
        return sql
    ob = obs[0]
    end_m = next(
        (
            m
            for m in _scan(sql).top_matches(_OB_CLAUSE_END_RE)
            if m.start() >= ob.end()
        ),
        None,
    )
    ob_end = end_m.start() if end_m else len(sql)

    sel_m = re.match(r"\s*SELECT\s+", sql, re.IGNORECASE)
    select_list = sql[sel_m.end() : froms[0].start()]
    out_names = set()
    for item in _scan(select_list).items():
        im = _scan(item).flat()
        am = re.search(r"\sAS\s+(\w+)\s*$", im, re.IGNORECASE)
        if am:
            out_names.add(am.group(1).lower())
        elif re.fullmatch(r"\s*[A-Za-z_]\w*\s*", item):
            out_names.add(item.strip().lower())

    def _idents(expr: str) -> list[str]:
        toks, em = [], _scan(expr).flat()
        # scan the masked text so literal contents don't read as names,
        # but slice chains from the raw expr (same offsets)
        for m in _GOB_CHAIN_RE.finditer(em):
            if em[m.end() :].lstrip().startswith("("):
                continue  # function call
            parts = [p.strip().lower() for p in m.group(0).split(".")]
            if len(parts) == 1 and parts[0] in _GOB_KEYWORDS:
                continue
            toks.append(parts[0] if len(parts) == 1 else ".".join(parts))
        return toks

    items = _scan(sql[ob.end() : ob_end]).items()
    hoisted, new_items, changed = [], [], False
    for it in items:
        tail_m = _ORDER_TAIL_RE.search(it)
        expr = it[: tail_m.start()].strip()
        tail = it[tail_m.start() :].strip()
        ids = _idents(expr)
        # grouping() args always name input grouping columns (never
        # output aliases), so a grouping-call item hoists regardless of
        # the ident scan (which cannot see inside the call's parens)
        has_grouping = bool(
            re.search(r"\bgrouping(?:_id)?\s*\(", expr, re.IGNORECASE)
        )
        if (
            re.fullmatch(r"\d+", expr)
            or (not has_grouping and not ids)
            or expr.strip().lower() in out_names
            or any(i in out_names for i in ids)
            or _SQ_OPEN_RE.search(it)
            or re.search(r"\bOVER\s*\(", it, re.IGNORECASE)
        ):
            new_items.append(it.strip())
            continue
        alias = f"__gob{len(hoisted) + 1}"
        hoisted.append(f"{expr} AS {alias}")
        new_items.append(f"{alias} {tail}".strip())
        changed = True
    if not changed:
        return sql
    inner = (
        sql[sel_m.start() : sel_m.end()]
        + select_list.strip()
        + ", "
        + ", ".join(hoisted)
        + " "
        + sql[froms[0].start() : ob.start()].strip()
    )
    drops = ", ".join(f"__gob{k + 1}" for k in range(len(hoisted)))
    return (
        f"SELECT * EXCEPT ({drops}) FROM ({inner.strip()}) __gobh "
        f"ORDER BY {', '.join(new_items)}"
        + (" " + sql[ob_end:].strip() if end_m else "")
    )


_OB_RE = re.compile(r"\bORDER\s+BY\b", re.IGNORECASE)
_OVER_PAREN_RE = re.compile(r"\bOVER\s*\(", re.IGNORECASE)
_LIMIT_TAIL_KW_RE = re.compile(r"\b(LIMIT|OFFSET|FETCH)\b", re.IGNORECASE)
_SORT_DIR_TAIL_RE = re.compile(
    r"(?:\s+(?:ASC|DESC))?(?:\s+NULLS\s+(?:FIRST|LAST))?\s*$", re.IGNORECASE
)
_BARE_REF_RE = re.compile(r"^[A-Za-z_]\w*(\.[A-Za-z_]\w*)*$")
_AS_ALIAS_TAIL_RE = re.compile(r"\s+AS\s+([A-Za-z_]\w*)\s*$", re.IGNORECASE)
_QUAL_REF_RE = re.compile(r"\b([A-Za-z_]\w*)\s*\.\s*([A-Za-z_]\w*)\b")


def _rewrite_window_in_order_by(sql: str) -> str:
    """Window functions in the final ORDER BY (AbstractTestQueries.java
    testOrderByWithOutputColumnReference window block): Presto evaluates
    them with ORDER-BY name resolution — unqualified names bind to the
    SELECT output aliases first, qualified ``t.c`` reaches the input
    scope. Spark's analyzer rejects window expressions under Sort, so
    hoist: project the sort expressions over the original query's output
    (a derived table, giving alias-first resolution), thread qualified
    input refs through as passthrough columns, sort on the projected
    keys, and re-select the original output columns on top."""
    stripped = sql.lstrip()
    if not re.match(r"SELECT\b", stripped, re.IGNORECASE):
        return sql
    mask = _literal_mask(sql)
    obs = _scan(sql).top_matches(_OB_RE)
    if not obs:
        return sql
    ob = obs[-1]
    tail = sql[ob.end() :]
    lim = ""
    items_text = tail
    # depth-0 only: a LIMIT inside a subquery in a sort item is not the
    # statement tail
    sc = _scan(sql)
    for m in _LIMIT_TAIL_KW_RE.finditer(tail):
        pos = ob.end() + m.start()
        if not mask[pos] and sc.depth(pos) == sc.depth(ob.end()):
            items_text = tail[: m.start()]
            lim = tail[m.start() :]
            break
    if not _OVER_PAREN_RE.search(items_text):
        return sql
    sel_m = re.match(r"\s*SELECT\s+", sql, re.IGNORECASE)
    if re.match(r"(DISTINCT|ALL)\b", sql[sel_m.end() :], re.IGNORECASE):
        return sql
    froms = _scan(sql).top_matches(_FROM_RE)
    if not froms:
        return sql
    fm = froms[0]
    select_list = sql[sel_m.end() : fm.start()]
    body = sql[fm.start() : ob.start()]
    # output names: every select item must be a bare (possibly qualified)
    # column ref or carry an AS alias — else the hoist can't name the
    # outer projection and the statement is left unchanged
    names = []
    for item in _scan(select_list).items():
        am = _AS_ALIAS_TAIL_RE.search(item)
        if am:
            names.append(am.group(1))
        elif _BARE_REF_RE.match(item.strip()):
            names.append(item.strip().split(".")[-1])
        else:
            return sql
    has_group = bool(
        _scan(body).top_matches(re.compile(r"\bGROUP\s+BY\b", re.IGNORECASE))
    )
    lower_names = {n.lower() for n in names}
    sort_specs = []
    passthrough: dict = {}
    unqual_passthrough: list[str] = []
    for si in _scan(items_text).items():
        si = si.strip()
        dm = _SORT_DIR_TAIL_RE.search(si)
        expr, direction = si[: dm.start()].strip(), si[dm.start() :].strip()
        if re.fullmatch(r"\d+", expr):  # positional ref → output name
            idx = int(expr) - 1
            if not 0 <= idx < len(names):
                return sql
            expr = names[idx]
        # qualified refs in any hoisted sort item need the input scope —
        # thread them through the inner select list as passthrough columns
        def _thread(qm, _pt=passthrough):
            key = f"{qm.group(1)}.{qm.group(2)}"
            return _pt.setdefault(key, f"__q_{len(_pt)}")

        emask = _literal_mask(expr)
        expr = "".join(
            _thread(qm) if qm else ch
            for qm, ch in _iter_qual_subst(expr, emask)
        )
        # unqualified refs that are NOT output aliases fall back to the
        # input scope in Presto (testOrderByWithOutputColumnReference —
        # e.g. ORDER BY row_number() OVER (ORDER BY totalprice) with
        # only custkey selected); thread them through by name so the
        # hoisted projection over the derived table still resolves them
        emask = _literal_mask(expr)
        esub = _subquery_mask(expr)
        for im in re.finditer(r"\b[A-Za-z_]\w*\b", expr):
            if emask[im.start()] or esub[im.start()]:
                continue
            w = im.group(0)
            wl = w.lower()
            j = im.end()
            while j < len(expr) and expr[j] == " ":
                j += 1
            if j < len(expr) and expr[j] in "(.":
                continue  # function call / qualifier head
            if im.start() > 0 and expr[im.start() - 1] == ".":
                continue  # qualified tail
            if (
                wl in _SORT_EXPR_KEYWORDS
                or wl in lower_names
                or wl.startswith("__q_")
            ):
                continue
            if wl not in (u.lower() for u in unqual_passthrough):
                unqual_passthrough.append(w)
        sort_specs.append((expr, direction))
    if (passthrough or unqual_passthrough) and has_group:
        return sql  # passthroughs would break aggregation rules
    extra = "".join(
        f", {q} AS {a}" for q, a in passthrough.items()
    ) + "".join(f", {c}" for c in unqual_passthrough)
    inner = f"SELECT {select_list.strip()}{extra} {body.strip()}"
    mids = ", ".join(
        f"{expr} AS __sort_{i}" for i, (expr, _) in enumerate(sort_specs)
    )
    order = ", ".join(
        f"__sort_{i} {d}".strip() for i, (_, d) in enumerate(sort_specs)
    )
    return (
        f"SELECT {', '.join(names)} FROM (SELECT __h.*, {mids} FROM "
        f"({inner}) AS __h) AS __hs ORDER BY {order}{(' ' + lim.strip()) if lim.strip() else ''}"
    )


_SUBQ_OPEN_RE = re.compile(r"\(\s*SELECT(?![^\W_])", re.IGNORECASE)


def _subquery_mask(expr: str) -> list:
    """True for positions inside a ``(SELECT …)`` group, from its open
    paren up to its close — refs there resolve in the subquery's own
    scope and must not be rewritten."""
    sc, out = _scan(expr), [False] * len(expr)
    for m in _outside(_SUBQ_OPEN_RE, expr):
        end = sc.match(m.end())
        end = len(expr) if end < 0 else end
        out[m.start() : end] = [True] * (end - m.start())
    return out


def _iter_qual_subst(expr: str, mask: list):
    """Yield (match, None) for qualified refs / (None, char) otherwise,
    non-overlapping, skipping literal regions, qualified FUNCTION calls
    (``db.fn(x)`` — the dot chain names a routine, not a column), and
    subquery bodies (their refs resolve in their own scope)."""
    sub = _subquery_mask(expr)
    i = 0
    while i < len(expr):
        m = _QUAL_REF_RE.match(expr, i)
        if m and not mask[i] and not sub[i]:
            j = m.end()
            while j < len(expr) and expr[j].isspace():
                j += 1
            if j < len(expr) and expr[j] == "(":
                yield None, expr[i]
                i += 1
                continue
            yield m, None
            i = m.end()
        else:
            yield None, expr[i]
            i += 1


# Words that can appear bare inside a hoisted sort expression without
# naming an input column (window/frame/CASE grammar + niladic functions).
_SORT_EXPR_KEYWORDS = frozenset(
    """over order by partition rows range groups between and or not
    current row preceding following unbounded desc asc nulls first last
    case when then else end cast as try_cast true false null distinct
    in is like escape exists interval day month year hour minute second
    to at zone filter where ignore respect within group
    current_date current_timestamp current_user localtime
    localtimestamp""".split()
)

_RANKING_OVER_RE = re.compile(
    r"\b(rank|dense_rank|percent_rank|cume_dist|row_number|ntile)\s*\("
    r"[^()]*\)\s*OVER\s*\(",
    re.IGNORECASE,
)
_TOP_ORDER_BY_RE = re.compile(r"\bORDER\s+BY\b", re.IGNORECASE)


def _rewrite_unordered_ranking_windows(sql: str) -> str:
    """Presto permits ranking window functions with no window ORDER BY —
    every row in the partition is a peer (product-test
    window_functions/noOrderAllRowsPeers.sql: rank() OVER (PARTITION BY
    suppkey) is 1 everywhere). Spark rejects the unordered window, so
    inject the constant ``ORDER BY 1`` (a literal in window specs, not a
    positional reference) which makes all rows peers — identical
    semantics."""
    i = 0
    while True:
        m = _RANKING_OVER_RE.search(sql, i)
        if not m:
            return sql
        j = _scan(sql).close(m.end())
        body = sql[m.end() : j - 1]
        # top-level ORDER BY only (not one inside a nested expression)
        depth = 0
        has_order = False
        for om in _TOP_ORDER_BY_RE.finditer(body):
            depth = body[: om.start()].count("(") - body[: om.start()].count(")")
            if depth == 0:
                has_order = True
                break
        if not has_order:
            pad = " " if body and not body.endswith(" ") else ""
            sql = sql[: j - 1] + f"{pad}ORDER BY 1" + sql[j - 1 :]
        i = j
    return sql


def _rewrite_quantified(sql: str) -> str:
    """Quantified comparisons (Presto SqlBase.g4 ``comparisonQuantifier``;
    Spark has no ALL/ANY subquery syntax):

      x > ALL (SELECT e FROM …)  →  x > (SELECT max(e) FROM …)
      x = ANY (…)                →  x IN (…)
      x <> ALL (…)               →  x NOT IN (…)

    Exact for non-empty subqueries without NULLs; the empty-set/NULL edge
    follows the scalar MAX/MIN form (documented deviation, README). Only
    single-expression, non-DISTINCT projections are rewritten; other shapes
    pass through untouched (and fail loudly at parse time)."""
    out: list[str] = []
    i = 0
    mask = _literal_mask(sql)
    while True:
        m = _QUANT_RE.search(sql, i)
        if not m:
            out.append(sql[i:])
            return "".join(out)
        op, quant = m.group(1), m.group(2).upper()
        if quant == "SOME":
            quant = "ANY"
        j = _scan(sql).close(m.end())
        inner = sql[m.end() : j - 1].strip()
        replaced = None
        consumed_from = None  # set when the rewrite swallows the left expr
        if inner[:6].upper() == "SELECT":
            if op == "=" and quant == "ANY":
                replaced = f" IN ({inner})"
            elif op in ("<>", "!=") and quant == "ALL":
                replaced = f" NOT IN ({inner})"
            elif (op == "=" and quant == "ALL") or (
                op in ("<>", "!=") and quant == "ANY"
            ):
                # x = ALL(S) / x <> ANY(S): three-valued min/max form
                # (reference TransformQuantifiedComparisonApplyToLateralJoin
                # .java builds the same count/count-nonnull/min/max frame):
                #   S empty              → TRUE  (=ALL) / FALSE (<>ANY)
                #   x IS NULL, S not empty → NULL
                #   some non-null y ≠ x  → FALSE (=ALL) / TRUE (<>ANY)
                #   some NULL y          → NULL
                #   else (all y = x)     → TRUE  (=ALL) / FALSE (<>ANY)
                estart = _expr_start(sql, mask, m.start())
                if estart is not None and estart >= i:
                    x = sql[estart : m.start()].strip()
                    n = _uniq()
                    # derived-table column alias handles star/VALUES
                    # projections the AS-__q form could not
                    cnt = f"(SELECT count(*) FROM ({inner}) __qa{n}(__q))"
                    cntv = f"(SELECT count(__q) FROM ({inner}) __qb{n}(__q))"
                    mn = f"(SELECT min(__q) FROM ({inner}) __qc{n}(__q))"
                    mx = f"(SELECT max(__q) FROM ({inner}) __qd{n}(__q))"
                    t, f_ = ("TRUE", "FALSE") if op == "=" else ("FALSE", "TRUE")
                    replaced = (
                        f"CASE WHEN {cnt} = 0 THEN {t} "
                        f"WHEN ({x}) IS NULL THEN CAST(NULL AS BOOLEAN) "
                        f"WHEN {cntv} > 0 AND ({mn} <> ({x}) OR {mx} <> ({x}))"
                        f" THEN {f_} "
                        f"WHEN {cnt} > {cntv} THEN CAST(NULL AS BOOLEAN) "
                        f"ELSE {t} END"
                    )
                    consumed_from = estart
            else:
                agg = _QUANT_AGG.get((op, quant))
                estart = _expr_start(sql, mask, m.start())
                if agg and estart is not None and estart >= i:
                    # full three-valued form (reference Transform-
                    # QuantifiedComparisonApplyToLateralJoin.java):
                    #   ALL = AND over rows: FALSE if any comparison is
                    #   FALSE (x fails vs the tightest non-null bound),
                    #   else NULL if x IS NULL or S has NULLs, else TRUE
                    #   (incl. S empty). ANY = OR over rows dually with
                    #   FALSE on empty. The former plain min/max lowering
                    #   returned NULL on empty S — wrong vs Presto.
                    x = sql[estart : m.start()].strip()
                    n = _uniq()
                    cnt = f"(SELECT count(*) FROM ({inner}) __qa{n}(__q))"
                    cntv = f"(SELECT count(__q) FROM ({inner}) __qb{n}(__q))"
                    mn = f"(SELECT min(__q) FROM ({inner}) __qc{n}(__q))"
                    mx = f"(SELECT max(__q) FROM ({inner}) __qd{n}(__q))"
                    if quant == "ALL":
                        bound = mn if op in ("<", "<=") else mx
                        replaced = (
                            f"CASE WHEN {cnt} = 0 THEN TRUE "
                            f"WHEN ({x}) IS NULL THEN CAST(NULL AS BOOLEAN) "
                            f"WHEN {cntv} > 0 AND NOT(({x}) {op} {bound})"
                            f" THEN FALSE "
                            f"WHEN {cnt} > {cntv} THEN CAST(NULL AS BOOLEAN) "
                            f"ELSE TRUE END"
                        )
                    else:
                        bound = mx if op in ("<", "<=") else mn
                        replaced = (
                            f"CASE WHEN {cnt} = 0 THEN FALSE "
                            f"WHEN ({x}) IS NULL THEN CAST(NULL AS BOOLEAN) "
                            f"WHEN {cntv} > 0 AND (({x}) {op} {bound})"
                            f" THEN TRUE "
                            f"WHEN {cnt} > {cntv} THEN CAST(NULL AS BOOLEAN) "
                            f"ELSE FALSE END"
                        )
                    consumed_from = estart
        if replaced is None:
            out.append(sql[i:j])
        else:
            out.append(sql[i : (consumed_from if consumed_from is not None
                                else m.start())])
            out.append(replaced)
        i = j


_EXISTS_SEL_RE = re.compile(r"\bEXISTS\s*\(\s*SELECT\b", re.IGNORECASE)
_PAREN_SEL_RE = re.compile(r"\(\s*SELECT\b", re.IGNORECASE)


def _fromless_parts(body: str):
    """(items_txt, where_txt|None) when ``body`` is a FROM-less simple
    select (Presto's implicit one-row VALUES), else None."""
    bm = _scan(body).flat()
    if re.search(
        r"\b(FROM|UNION|INTERSECT|EXCEPT|GROUP|HAVING|ORDER|LIMIT|"
        r"OFFSET|FETCH|OVER|DISTINCT)\b",
        bm,
        re.IGNORECASE,
    ):
        return None
    wm = re.search(r"\bWHERE\b", bm, re.IGNORECASE)
    if wm:
        return body[: wm.start()], body[wm.end() :]
    return body, None


_RELATION_WORDS = {"FROM": True, "JOIN": True} | dict.fromkeys((
    "SELECT", "WHERE", "ON", "HAVING", "BY", "WHEN", "THEN", "ELSE", "AND",
    "OR", "NOT", "IN", "EXISTS", "UNION", "INTERSECT", "EXCEPT", "VALUES",
    "SET",
), False)
# a word up to its last letter: ``FROM1`` reads as FROM, ``t1`` as T
_WORD_TO_LAST_LETTER_RE = re.compile(r"\w*[^\W\d]")


@functools.lru_cache(maxsize=8)
def _relation_words(sql: str) -> dict[int, tuple[list[int], list[bool]]]:
    """Per paren depth: positions of the clause keywords that decide
    ``_in_relation_position``, and whether each opens a relation."""
    sc, out = _scan(sql), {}
    for m in _outside(_WORD_TO_LAST_LETTER_RE, sql):
        rel = _RELATION_WORDS.get(m.group().upper())
        if rel is not None:
            pos, rels = out.setdefault(sc.depth(m.start()), ([], []))
            pos.append(m.start())
            rels.append(rel)
    return out


def _in_relation_position(sql: str, pos: int) -> bool:
    """True when the paren at ``pos`` opens a derived table — directly
    after FROM/JOIN, or comma-joined inside a FROM clause (``FROM a,
    (SELECT …) t``): the nearest clause keyword before it at the same
    depth, inside the same group, decides it."""
    sc = _scan(sql)
    depth = sc.depth(pos)
    pos_list, rels = _relation_words(sql).get(depth, ((), ()))
    k = bisect_left(pos_list, pos) - 1
    return k >= 0 and pos_list[k] > sc.open_of(pos) and rels[k]


_PAREN_SEL_ANY_RE = re.compile(r"\(\s*SELECT\b", re.IGNORECASE)


def _collapse_trivial_subquery_wrappers(sql: str) -> str:
    """Strip no-op derived-table shells around subqueries so ONE
    correlation level remains where Presto's decorrelation sees through
    several (AbstractTestQueries testCorrelatedScalarSubqueries /
    testCorrelatedExistsSubqueries wrap correlated subqueries as
    ``(SELECT * FROM (SELECT <subquery>))`` — Spark's analyzer resolves
    outer references through one subquery level only):

    - ``(SELECT * FROM (Q))``  → ``(Q)``   (no alias, no other clauses)
    - ``(SELECT (Q))``         → ``(Q)``   (lone scalar-subquery item)

    Both are exact identities (a bare derived table is the query; a
    one-item FROM-less select of a scalar subquery is that scalar).
    Iterates to fixpoint so the two compose across nesting levels."""
    changed = True
    while changed:
        changed = False
        mask = _literal_mask(sql)
        for m in _PAREN_SEL_ANY_RE.finditer(sql):
            p = m.start()
            if mask[p]:
                continue
            close = _scan(sql).close(p + 1)
            body = sql[p + 1 : close - 1]
            star = re.match(
                r"\s*SELECT\s+\*\s+FROM\s*\(", body, re.IGNORECASE
            )
            lone = re.match(r"\s*SELECT\s*\(", body, re.IGNORECASE)
            inner_open = None
            if star is not None:
                inner_open = star.end() - 1
            elif lone is not None:
                inner_open = lone.end() - 1
            if inner_open is None:
                continue
            if not re.match(
                r"\s*SELECT\b", body[inner_open + 1 :], re.IGNORECASE
            ):
                continue
            inner_close = _scan(body).close(inner_open + 1)
            if body[inner_close:].strip():
                continue  # alias / WHERE / anything else: not a no-op
            sql = (
                sql[:p]
                + body[inner_open:inner_close]
                + sql[close:]
            )
            changed = True
            break
    return sql


def _rewrite_fromless_subqueries(sql: str) -> str:
    """Fold FROM-less subqueries to scalar expressions.

    Presto evaluates ``SELECT <items> [WHERE c]`` with no FROM over one
    implicit row, and decorrelates it in positions where Spark's
    analyzer rejects any subquery outright — ORDER BY, GROUP BY keys,
    join-ON over both inputs (AbstractTestQueries.java
    testCorrelatedScalarSubqueries / testCorrelatedExistsSubqueries).
    The subquery's value is a closed form, so fold it textually:

    - ``EXISTS(SELECT …)``            → true (one row always)
    - ``EXISTS(SELECT … WHERE c)``    → coalesce((c), false)
    - ``(SELECT e)``                  → (e)
    - ``(SELECT count(*) WHERE c)``   → CASE WHEN c THEN 1 ELSE 0 END
    - ``(SELECT e WHERE c)``          → CASE WHEN c THEN (e) END
      (empty → NULL, matching the scalar-subquery contract)

    Aggregates other than count(*) in the item, multi-item selects, and
    anything with FROM/set-ops are left untouched. Relation-position
    ``FROM (SELECT 1)`` is excluded by peeking at the preceding word."""
    # EXISTS first — the scalar pass below would otherwise see its paren
    i = 0
    while True:
        m = _find_outside(_EXISTS_SEL_RE, sql, i)
        if m is None:
            break
        open_p = sql.index("(", m.start())
        close = _scan(sql).close(open_p + 1)
        body = sql[open_p + 1 : close - 1]
        sel = re.match(r"\s*SELECT\b", body, re.IGNORECASE)
        parts = _fromless_parts(body[sel.end() :])
        if parts is None:
            i = open_p + 1  # real subquery — leave for later passes
            continue
        _, where = parts
        repl = "true" if where is None else f"coalesce(({where.strip()}), false)"
        sql = sql[: m.start()] + repl + sql[close:]
        i = m.start()
    i = 0
    while True:
        m = _find_outside(_PAREN_SEL_RE, sql, i)
        if m is None:
            return sql
        before = sql[: m.start()].rstrip()
        close_peek = _scan(sql).close(m.start() + 1)
        after = sql[close_peek:].lstrip()
        if (
            re.search(
                # AS: CTE body (WITH a AS (SELECT …)); set-op keywords:
                # the paren select is a compound-query branch
                r"\b(EXISTS|IN|ALL|ANY|SOME|AS|UNION|INTERSECT|EXCEPT)$",
                before,
                re.IGNORECASE,
            )
            or re.match(r"(UNION|INTERSECT|EXCEPT)\b", after, re.IGNORECASE)
            or _in_relation_position(sql, m.start())
        ):
            # subquery-operator position / relation position — leave
            i = m.start() + 1
            continue
        close = _scan(sql).close(m.start() + 1)
        body = sql[m.start() + 1 : close - 1]
        sel = re.match(r"\s*SELECT\b", body, re.IGNORECASE)
        parts = _fromless_parts(body[sel.end() :])
        if parts is None:
            i = m.start() + 1
            continue
        items_txt, where = parts
        items = _scan(items_txt).items()
        if len(items) != 1:
            i = m.start() + 1
            continue
        item = items[0].strip()
        am = _AS_ALIAS_TAIL_RE.search(_scan(item).flat())
        if am:
            item = item[: am.start()].strip()
        if where is None:
            repl = f"({item})"
        elif re.fullmatch(r"count\s*\(\s*\*\s*\)", item, re.IGNORECASE):
            repl = (
                f"(CASE WHEN coalesce(({where.strip()}), false)"
                f" THEN 1 ELSE 0 END)"
            )
        elif _AGG_FN_RE.search(item):
            i = m.start() + 1
            continue  # non-count aggregate over the conditional row
        else:
            repl = (
                f"(CASE WHEN coalesce(({where.strip()}), false)"
                f" THEN ({item}) END)"
            )
        sql = sql[: m.start()] + repl + sql[close:]
        i = m.start()


_SCALAR_CELL_RE = re.compile(
    r"\s*(?:[+-]?\d+(?:\.\d+)?(?:[eE][+-]?\d+)?|'(?:[^']|'')*'|NULL|TRUE|"
    r"FALSE)\s*$",
    re.IGNORECASE,
)
_VALUES_OPEN_RE = re.compile(r"\(\s*VALUES\b", re.IGNORECASE)


def _rewrite_values_scalar_lists(sql: str) -> str:
    """Fold literal inline-VALUES subqueries in EXPRESSION position to
    plain literals (QueryTemplate join-condition tests —
    AbstractTestQueries testJoinWithMultipleInSubqueryClauses /
    testJoinWithMultipleScalarSubqueryClauses — use ``x in (VALUES
    1,2,3)`` and ``x = (VALUES 2)`` as join-ON subqueries, which Spark
    rejects in ON):

    - ``IN (VALUES v1, v2, …)``  → ``IN (v1, v2, …)``
    - ``(VALUES v)`` (one scalar) → ``(v)``

    All cells must be scalar literals; relation-position VALUES
    (``FROM (VALUES …)``) are untouched."""
    changed = True
    while changed:
        changed = False
        mask = _literal_mask(sql)
        for m in _VALUES_OPEN_RE.finditer(sql):
            p = m.start()
            if mask[p] or _in_relation_position(sql, p):
                continue
            close = _scan(sql).close(p + 1)
            body = sql[p + 1 : close - 1]
            vm = re.match(r"\s*VALUES\b", body, re.IGNORECASE)
            cells = _scan(body[vm.end() :]).items()
            if not all(_SCALAR_CELL_RE.fullmatch(c) for c in cells):
                continue
            # expression position only: the token before must be a
            # comparison/arithmetic operator or IN. Set-op branches
            # ('(VALUES 1) UNION ALL …'), CTE bodies, and statement-
            # leading VALUES are relations — leave them.
            before = sql[:p].rstrip()
            is_in = bool(re.search(r"\bIN$", before, re.IGNORECASE))
            if not is_in and not re.search(r"[=<>!+\-*/%]$", before):
                continue
            if not is_in and len(cells) != 1:
                continue
            lits = ", ".join(c.strip() for c in cells)
            sql = sql[:p] + f"({lits})" + sql[close:]
            changed = True
            break
    return sql


def _unwrap_parenthesized_joins(sql: str) -> str:
    """Presto allows a parenthesized join expression as a FROM item
    (``FROM ((A UNION ALL B) u CROSS JOIN UNNEST(u.a) t(col))`` —
    AbstractTestQueries testCrossJoinUnnestWithUnion); Spark's LATERAL
    VIEW lowering of UNNEST cannot live inside those parens. The parens
    are semantically inert when the group is unaliased, so strip them:
    relation-position parens whose content carries a depth-0 JOIN and
    whose close is not followed by an alias token."""
    changed = True
    while changed:
        changed = False
        mask = _literal_mask(sql)
        for m in re.finditer(r"\(", sql):
            p = m.start()
            if mask[p] or not _in_relation_position(sql, p):
                continue
            # a group that is the RIGHT operand of a join keeps its
            # parens: stripping them re-associates the ON clauses
            # (``a LEFT JOIN (b JOIN c ON …) ON …`` would become the
            # unparseable ``a LEFT JOIN b JOIN c ON … ON …``). Left/
            # FROM-position groups are safe — joins left-associate.
            bm = re.search(r"([A-Za-z_]\w*)\s*$", sql[:p])
            if bm and bm.group(1).upper() == "JOIN":
                continue
            close = _scan(sql).close(p + 1)
            body = sql[p + 1 : close - 1]
            # a body that IS a query (derived table) keeps its parens —
            # its internal joins belong to the subquery, not the FROM
            if re.match(
                r"\s*(SELECT|VALUES|WITH|TABLE)\b", body, re.IGNORECASE
            ):
                continue
            if not _scan(body).top_matches(_JOIN_KW_RE):
                continue
            after = sql[close:].lstrip()
            am = re.match(r"(?:AS\s+)?([A-Za-z_]\w*)", after, re.IGNORECASE)
            if am and am.group(1).upper() not in (
                "WHERE", "GROUP", "HAVING", "ORDER", "LIMIT", "OFFSET",
                "UNION", "INTERSECT", "EXCEPT", "JOIN", "CROSS", "INNER",
                "LEFT", "RIGHT", "FULL", "ON", "NATURAL", "LATERAL",
                "TABLESAMPLE",
            ):
                continue  # aliased join group — parens are load-bearing
            sql = sql[:p] + body.strip() + sql[close:]
            changed = True
            break
    return sql


_ORDER_TAIL_RE = re.compile(
    r"\s*(ASC|DESC)?\s*(NULLS\s+(FIRST|LAST))?\s*$", re.IGNORECASE
)
_OB_CLAUSE_END_RE = re.compile(
    r"\b(LIMIT|OFFSET|FETCH)\b", re.IGNORECASE
)


def _rewrite_order_by_subquery_hoist(sql: str) -> str:
    """Relation-scanning subqueries in ORDER BY (Spark's analyzer
    rejects subquery expressions in Sort; Presto decorrelates —
    AbstractTestQueries testCorrelatedScalarSubqueries /
    testCorrelatedExistsSubqueries ORDER BY sites). Hoist each
    subquery-bearing sort item into a derived-table projection and sort
    on the materialized column:

        SELECT k FROM t o ORDER BY (SELECT … corr o), k LIMIT 1
        → SELECT * EXCEPT (__ob1) FROM
            (SELECT k, (SELECT …) AS __ob1 FROM t o) __obh
          ORDER BY __ob1, k LIMIT 1

    The outer projection drops the materialized sort columns with
    ``* EXCEPT``, so star and unaliased select items pass through
    unchanged. Scope: single plain SELECT, no DISTINCT/GROUP BY/HAVING/
    set ops. FROM-less subqueries are already folded by
    _rewrite_fromless_subqueries, so anything left here scans a
    relation."""
    if not re.match(r"\s*SELECT\b", sql, re.IGNORECASE):
        return sql
    obs = _scan(sql).top_matches(re.compile(r"\bORDER\s+BY\b", re.IGNORECASE))
    if len(obs) != 1:
        return sql
    if _scan(sql).top_matches(re.compile(
            r"\b(UNION|INTERSECT|EXCEPT|GROUP\s+BY|HAVING|DISTINCT)\b",
            re.IGNORECASE,
        )):
        return sql
    ob = obs[0]
    end_m = next(
        (
            m
            for m in _scan(sql).top_matches(_OB_CLAUSE_END_RE)
            if m.start() >= ob.end()
        ),
        None,
    )
    ob_end = end_m.start() if end_m else len(sql)
    items = _scan(sql[ob.end() : ob_end]).items()
    if not any(
        re.search(r"\(\s*SELECT\b", it, re.IGNORECASE) for it in items
    ):
        return sql
    froms = _scan(sql).top_matches(_FROM_RE)
    if not froms:
        return sql
    sel_m = re.match(r"\s*SELECT\s+", sql, re.IGNORECASE)
    select_list = sql[sel_m.end() : froms[0].start()]
    hoisted, new_items = [], []
    for it in items:
        if not re.search(r"\(\s*SELECT\b", it, re.IGNORECASE):
            new_items.append(it.strip())
            continue
        tail_m = _ORDER_TAIL_RE.search(it)
        expr, tail = it[: tail_m.start()].strip(), it[tail_m.start():].strip()
        alias = f"__ob{len(hoisted) + 1}"
        hoisted.append(f"{expr} AS {alias}")
        new_items.append(f"{alias} {tail}".strip())
    inner = (
        sql[sel_m.start() : sel_m.end()]
        + select_list.strip()
        + ", "
        + ", ".join(hoisted)
        + " "
        + sql[froms[0].start() : ob.start()].strip()
    )
    drops = ", ".join(f"__ob{k + 1}" for k in range(len(hoisted)))
    return (
        f"SELECT * EXCEPT ({drops}) FROM ({inner.strip()}) __obh "
        f"ORDER BY {', '.join(new_items)}"
        + (" " + sql[ob_end:].strip() if end_m else "")
    )


_JOIN_KW_RE = re.compile(r"\bJOIN\b", re.IGNORECASE)
_ON_CLAUSE_END_RE = re.compile(
    r"\b(WHERE|GROUP\s+BY|HAVING|ORDER\s+BY|LIMIT|OFFSET|UNION|INTERSECT|"
    r"EXCEPT|JOIN|LEFT|RIGHT|FULL|CROSS|INNER)\b",
    re.IGNORECASE,
)


_SQ_OPEN_RE = re.compile(r"\(\s*SELECT\b", re.IGNORECASE)
_STMT_TAIL_KW_RE = re.compile(
    r"\b(WHERE|GROUP\s+BY|HAVING|ORDER\s+BY|LIMIT|OFFSET|UNION|INTERSECT|"
    r"EXCEPT)\b",
    re.IGNORECASE,
)


def _has_correlated_subquery(cond: str) -> bool:
    """True if some subquery inside ``cond`` carries a qualified column
    reference whose qualifier is NOT an alias defined within that
    subquery — i.e. an outer (correlated) reference. Uncorrelated
    subqueries in join-ON are left alone: Spark executes those natively."""
    for m in _SQ_OPEN_RE.finditer(cond):
        close = _scan(cond).close(m.start() + 1)
        body = cond[m.start() + 1 : close - 1]
        inner_aliases = {
            a.lower()
            for a in re.findall(
                r"\b(?:FROM|JOIN)\s+\w+(?:\s+(?:AS\s+)?(\w+))?",
                body,
                re.IGNORECASE,
            )
            if a
        } | {
            t.lower()
            for t in re.findall(
                r"\b(?:FROM|JOIN)\s+(\w+)", body, re.IGNORECASE
            )
        }
        for qm in _QUAL_REF_RE.finditer(body):
            if qm.group(1).lower() not in inner_aliases:
                return True
    return False


def _fold_uncorrelated_exists(cond: str) -> str | None:
    """Replace each UNCORRELATED ``EXISTS (SELECT …)`` inside ``cond``
    with ``((SELECT count(*) FROM (<inner>) __ex LIMIT 1) > 0)`` — a
    scalar subquery, which Spark accepts where EXISTS predicates are
    rejected (outer-join ON). Correlated EXISTS spans are left alone
    (the caller cannot convert those for outer joins; the reference
    rejects them there too). Returns the rewritten text."""
    out = cond
    changed = True
    while changed:
        changed = False
        mask = _literal_mask(out)
        for m in re.finditer(r"\bEXISTS\s*\(", out, re.IGNORECASE):
            if mask[m.start()]:
                continue
            close = _scan(out).close(m.end())
            inner = out[m.end() : close - 1]
            if not re.match(r"\s*SELECT\b", inner, re.IGNORECASE):
                continue
            if _has_correlated_subquery(out[m.end() - 1 : close]):
                continue
            n = _uniq()
            out = (
                out[: m.start()]
                + f"((SELECT count(*) FROM (SELECT 1 AS __one FROM "
                + f"({inner}) __exa{n} LIMIT 1) __exb{n}) > 0)"
                + out[close:]
            )
            changed = True
            break
    return out


def _rewrite_join_on_subquery(sql: str) -> str:
    """CORRELATED subqueries in an INNER join's ON clause (Spark rejects
    them; Presto decorrelates — testCorrelatedScalarSubqueries /
    testCorrelatedExistsSubqueries join sites). For INNER joins,
    ``A JOIN B ON p`` ≡ ``A CROSS JOIN B WHERE p``, and Spark accepts
    correlated subqueries in WHERE — so convert and conjoin the
    predicate into the statement's WHERE (after ALL joins of the FROM
    clause). Uncorrelated ON-subqueries stay (Spark runs them natively);
    outer joins pass through (the reference itself rejects correlation
    there: assertQueryFails '.* not supported')."""
    if not re.match(r"\s*SELECT\b", sql, re.IGNORECASE):
        return sql
    for jm in _scan(sql).top_matches(_JOIN_KW_RE):
        before = sql[: jm.start()].rstrip()
        outer = bool(
            re.search(
                r"\b(LEFT|RIGHT|FULL|CROSS|OUTER|ANTI|SEMI)$",
                before,
                re.IGNORECASE,
            )
        )
        on_m = next((
            m for m in _scan(sql).top_matches(_ON_RE) if m.start() >= jm.end()
        ), None)
        if on_m is None:
            continue
        # the ON must belong to THIS join: a depth-0 USING or another
        # JOIN keyword in between means this join's criteria is USING
        # (or absent — CROSS/NATURAL) and the matched ON pairs with a
        # later join, which the loop will visit on its own
        between = sql[jm.end() : on_m.start()]
        if _scan(between).top_matches(_USING_RE) or _scan(
            between
        ).top_matches(_JOIN_KW_RE):
            continue
        on_start = on_m.end()
        end_m = next(
            (
                m
                for m in _scan(sql).top_matches(_ON_CLAUSE_END_RE)
                if m.start() >= on_start
            ),
            None,
        )
        on_end = end_m.start() if end_m else len(sql)
        cond = sql[on_start:on_end].strip()
        if not _SQ_OPEN_RE.search(cond):
            continue
        if outer:
            # outer joins cannot become CROSS JOIN + WHERE; the one
            # convertible shape is an UNCORRELATED EXISTS predicate,
            # which folds to a scalar count subquery Spark accepts in ON
            folded = _fold_uncorrelated_exists(cond)
            if folded is not None and folded != cond:
                return _rewrite_join_on_subquery(
                    sql[:on_start] + " " + folded + " " + sql[on_end:]
                )
            continue
        # correlated subqueries of any kind, and PREDICATE subqueries
        # (IN/EXISTS — rejected in ON even uncorrelated), convert;
        # uncorrelated SCALAR subqueries stay (Spark runs them in ON)
        if not (
            _has_correlated_subquery(cond)
            or re.search(r"\bIN\s*\(\s*SELECT\b", cond, re.IGNORECASE)
            or re.search(r"\bEXISTS\s*\(", cond, re.IGNORECASE)
        ):
            continue
        removed = (
            sql[: jm.start()]
            + "CROSS JOIN"
            + sql[jm.end() : on_m.start()]
            + " "
            + sql[on_end:]
        ).strip()
        # insert at the statement's WHERE position — after the whole
        # FROM clause (which may contain further joins)
        tm = next(iter(_scan(removed).top_matches(_STMT_TAIL_KW_RE)),
                  None)
        if tm is None:
            new = f"{removed} WHERE {cond}"
        elif tm.group(1).upper() == "WHERE":
            new = (
                removed[: tm.end()]
                + f" ({cond}) AND "
                + removed[tm.end() :].lstrip()
            )
        else:
            new = (
                removed[: tm.start()].rstrip()
                + f" WHERE {cond} "
                + removed[tm.start() :]
            )
        # one conversion per pass; recurse for multi-join statements
        return _rewrite_join_on_subquery(new.strip())
    return sql


_AGG_FN_RE = re.compile(
    r"\b(sum|count|avg|min|max|count_if|stddev(?:_pop|_samp)?|"
    r"var(?:iance|_pop|_samp)?|skewness|kurtosis|corr|covar_pop|covar_samp|"
    r"approx_distinct|approx_percentile|approx_set|array_agg|bool_and|"
    r"bool_or|every|some|arbitrary|any_value|checksum|geometric_mean|"
    r"bitwise_and_agg|bitwise_or_agg|max_by|min_by|histogram|map_agg|"
    r"multimap_agg|map_union|reduce_agg|set_agg|set_union)\s*\(",
    re.IGNORECASE,
)

_GB_KEYWORD_RE = re.compile(r"\bGROUP\s+BY\b", re.IGNORECASE)
_EGG_BAIL_RE = re.compile(
    r"\b(ORDER\s+BY|LIMIT|OFFSET|FETCH|UNION|INTERSECT|EXCEPT|"
    r"WINDOW|OVER|DISTINCT)\b",
    re.IGNORECASE,
)
# tokens allowed in an aggregate-only HAVING predicate once aggregate
# call spans are blanked: logical/comparison glue and literal keywords
_EGG_HAVING_OK = frozenset(
    "and or not is null true false between in like escape".split()
)


def _rewrite_empty_grouping_global(sql: str) -> str:
    """Emit Presto's empty-input global-aggregation rows for grouping
    sets containing ``()`` (and CUBE/ROLLUP, whose expansions include
    the global set).

    Presto's grouped execution emits one output row per empty grouping
    set even when the source relation is empty
    (AbstractTestAggregations.java:953 testGroupingSetsWithGlobal-
    AggregationNoInput and siblings); Spark's Expand+HashAggregate
    lowering groups by (cols, gid) and so emits nothing. Append, per
    empty set, one UNION ALL arm that
    - computes every aggregate over a ``WHERE 1 = 0`` scan — Catalyst
      folds that to an aggregation over an empty LocalRelation, i.e. the
      exact empty-input aggregate values (SUM→NULL, COUNT→0, …) with NO
      table scan, and
    - is gated by ``NOT EXISTS (source)``, which stops at the first
      matching row — so on the common non-empty input the arm costs one
      short-circuit probe, not a second full scan (the 100 TB shape).

    Scope: a single plain SELECT whose GROUP BY is exactly one
    GROUPING SETS/CUBE/ROLLUP construct and whose select items are
    grouping expressions (paren-insensitively matched), aggregate calls,
    or whole grouping()/grouping_id() masks over grouping columns (a
    compile-time all-ones constant on the global set). An aggregate-only
    HAVING predicate (no grouping-column references) is applied to each
    arm as a global-aggregate filter — ``HAVING count(*) = 0`` keeps
    Presto's empty-input global row. Anything fancier (HAVING touching
    grouping columns, ORDER BY, set ops, windows, grouping() nested in
    larger expressions) passes through unchanged — those shapes keep
    today's behavior."""
    masked = _scan(sql).flat()
    if not re.match(r"\s*SELECT\b", masked, re.IGNORECASE):
        return sql
    gb = _GB_KEYWORD_RE.search(masked)
    if gb is None or _EGG_BAIL_RE.search(masked):
        return sql
    from_m = re.search(r"\bFROM\b", masked, re.IGNORECASE)
    if from_m is None or from_m.start() > gb.start():
        return sql
    where_m = re.search(r"\bWHERE\b", masked, re.IGNORECASE)
    sel_end = re.match(r"\s*SELECT\b", masked, re.IGNORECASE).end()
    items_txt = sql[sel_end : from_m.start()]
    src_end = where_m.start() if where_m else gb.start()
    from_txt = sql[from_m.end() : src_end].strip()
    where_txt = sql[where_m.end() : gb.start()].strip() if where_m else None
    having_m = re.search(r"\bHAVING\b", masked, re.IGNORECASE)
    gb_end = having_m.start() if having_m else len(sql)
    gb_txt = sql[gb.end() : gb_end].strip()
    having_txt = sql[having_m.end() :].strip() if having_m else None
    if having_txt is not None:
        # aggregate-only predicates qualify: blank aggregate-call spans,
        # then any residual identifier means a grouping-column reference
        # (NULL on the global row but unresolvable in the ungrouped arm)
        resid, pos = [], 0
        for am in _AGG_FN_RE.finditer(having_txt):
            if am.start() < pos:
                continue
            resid.append(having_txt[pos : am.start()])
            pos = _scan(having_txt).close(am.end())
        resid.append(having_txt[pos:])
        if any(
            t.group(0).lower() not in _EGG_HAVING_OK
            for t in re.finditer(r"[A-Za-z_]\w*", " ".join(resid))
        ):
            return sql

    # exactly one construct spanning the whole GROUP BY tail
    cm = re.match(
        r"(GROUPING\s+SETS|CUBE|ROLLUP)\s*\(", gb_txt, re.IGNORECASE
    )
    if cm is None:
        return sql
    close = _scan(gb_txt).close(cm.end())
    if gb_txt[close:].strip():
        return sql
    inner = gb_txt[cm.end() : close - 1]
    entries = _scan(inner).items()
    construct = " ".join(cm.group(1).upper().split())
    if construct == "GROUPING SETS":
        n_empty = sum(1 for e in entries if re.fullmatch(r"\(\s*\)", e))
        group_exprs = []
        for e in entries:
            if e.startswith("("):
                group_exprs.extend(_scan(e[1:-1]).items())
            else:
                group_exprs.append(e)
    else:  # CUBE / ROLLUP expansions both include the global set once
        n_empty = 1
        group_exprs = []
        for e in entries:
            if e.startswith("("):
                group_exprs.extend(_scan(e[1:-1]).items())
            else:
                group_exprs.append(e)
    if n_empty == 0:
        return sql

    def _strip_outer(e: str) -> str:
        # '(CASE .. END)' select item vs 'CASE .. END' grouping entry
        e = e.strip()
        while e.startswith("(") and _scan(e).close(1) == len(e):
            e = e[1:-1].strip()
        return e

    norm = lambda e: " ".join(_strip_outer(e).split()).lower()
    group_set = {norm(e) for e in group_exprs}

    arm_items = []
    for item in _scan(items_txt).items():
        im = _scan(item).flat()
        am = re.search(r"\sAS\s+\w+\s*$", im, re.IGNORECASE)
        expr = item[: am.start()] if am else item
        gm = re.match(r"\s*grouping(?:_id)?\s*\(", expr, re.IGNORECASE)
        if gm is not None:
            # grouping()/grouping_id() over grouping columns is a
            # compile-time constant on the global set: every argument is
            # un-grouped there, so the mask is all-ones (2^nargs - 1)
            close = _scan(expr).close(gm.end())
            gargs = _scan(expr[gm.end() : close - 1]).items()
            if (
                expr[close:].strip()
                or not gargs
                or any(norm(a) not in group_set for a in gargs)
            ):
                return sql  # grouping() in a fancier shape — out of scope
            arm_items.append(str(2 ** len(gargs) - 1))
        elif norm(expr) in group_set or norm(item) in group_set:
            arm_items.append("NULL")
        elif _AGG_FN_RE.search(expr) and not re.search(
            r"\bgrouping(?:_id)?\s*\(", expr, re.IGNORECASE
        ):
            arm_items.append(item.strip())
        else:
            return sql  # scalar-of-grouping-key shape — out of scope

    probe_src = f"{from_txt} WHERE {where_txt}" if where_txt else from_txt
    having_arm = f" HAVING {having_txt}" if having_txt else ""
    arm = (
        f" UNION ALL SELECT * FROM (SELECT {', '.join(arm_items)}"
        f" FROM {from_txt} WHERE 1 = 0{having_arm}) __ga_{{i}}"
        f" WHERE NOT EXISTS (SELECT 1 FROM {probe_src})"
    )
    return sql + "".join(arm.format(i=i) for i in range(n_empty))


# --- $internal$ statistics aggregates (ANALYZE stats collection) --------
# SumDataSizeForStats.java:40 / MaxDataSizeForStats.java:40 — hidden
# aggregates over block.getEstimatedDataSizeForStats(position): UTF-8
# byte length for variable-width slices (VariableWidthBlock), the fixed
# block width for fixed-width types, the recursive element sum for
# ARRAY/MAP/ROW blocks, and 0 for NULL positions. Lowered to SUM/MAX of
# a type-directed JVM expression (no UDFs, map-side partial aggregation
# preserved): the per-value size expression recurses over Presto
# constructor spellings (ARRAY[..], map(..), ROW(..), CAST) at the text
# level and over catalog column types (engine schema voting, passed as
# ``col_types``) for leaf column references.

_DS_FIXED_WIDTH = {
    "boolean": 1, "tinyint": 1, "byte": 1, "smallint": 2, "short": 2,
    "int": 4, "integer": 4, "date": 4, "float": 4, "real": 4,
    "bigint": 8, "long": 8, "double": 8, "timestamp": 8,
    "timestamp_ltz": 8, "timestamp_ntz": 8,
}


def _ds_of_type(e: str, t: str, depth: int = 0) -> str | None:
    """Per-value estimated-data-size expression for value ``e`` of Spark
    type ``t`` (simpleString grammar). NULL → 0, matching a null block
    position. Returns None for types with no Presto stats size."""
    t = t.strip().lower()
    if t in _DS_FIXED_WIDTH:
        return f"IF({e} IS NULL, 0, {_DS_FIXED_WIDTH[t]})"
    if t == "string" or t.startswith("varchar"):
        return f"COALESCE(octet_length({e}), 0)"
    if t.startswith("char"):
        # Presto Chars store the value with trailing spaces trimmed
        return f"COALESCE(octet_length(rtrim({e})), 0)"
    if t == "binary":
        return f"COALESCE(length({e}), 0)"
    if t.startswith("decimal"):
        m = re.match(r"decimal\((\d+)", t)
        width = 8 if (int(m.group(1)) if m else 10) <= 18 else 16
        return f"IF({e} IS NULL, 0, {width})"
    v = f"__ds{depth}"
    if t.startswith("array<"):
        inner = _ds_of_type(f"{v}x", t[6:-1], depth + 1)
        if inner is None:
            return None
        return (f"IF({e} IS NULL, 0, aggregate({e}, CAST(0 AS BIGINT),"
                f" ({v}a, {v}x) -> {v}a + CAST({inner} AS BIGINT)))")
    if t.startswith("map<"):
        kt, vt = (a.strip() for a in _scan(t[4:-1]).split(",", "(<"))
        ik = _ds_of_type(f"{v}x", kt, depth + 1)
        iv = _ds_of_type(f"{v}x", vt, depth + 1)
        if ik is None or iv is None:
            return None
        return (
            f"IF({e} IS NULL, 0,"
            f" aggregate(map_keys({e}), CAST(0 AS BIGINT),"
            f" ({v}a, {v}x) -> {v}a + CAST({ik} AS BIGINT))"
            f" + aggregate(map_values({e}), CAST(0 AS BIGINT),"
            f" ({v}a, {v}x) -> {v}a + CAST({iv} AS BIGINT)))"
        )
    if t.startswith("struct<"):
        parts = []
        for fld in (a.strip() for a in _scan(t[7:-1]).split(",", "(<")):
            name, _, ft = fld.partition(":")
            sub = _ds_of_type(f"({e}).{name.strip()}", ft, depth)
            if sub is None:
                return None
            parts.append(sub)
        return "(" + " + ".join(parts) + ")" if parts else "0"
    return None


_DS_CAST_TYPE_MAP = {
    "varbinary": "binary", "boolean": "boolean", "tinyint": "tinyint",
    "smallint": "smallint", "integer": "int", "int": "int",
    "bigint": "bigint", "real": "float", "double": "double",
    "date": "date", "timestamp": "timestamp", "varchar": "string",
    "json": "string",
}


def _ds_expr(a: str, col_types: dict) -> str | None:
    """Estimated-data-size expression for the Presto expression text
    ``a`` — syntactic recursion over constructor forms, catalog-type
    dispatch for leaves. None when the type cannot be derived."""
    a = a.strip()
    while a.startswith("(") and _scan(a).close(1) == len(a):
        a = a[1:-1].strip()
    # ARRAY[e1, e2, ...] constructor: sum of element sizes
    m = re.match(r"(?is)^ARRAY\s*\[", a)
    if m and _scan(a).close(m.end(), "([") == len(a):
        elems = _scan(a[m.end():-1]).items()
        parts = [_ds_expr(e, col_types) for e in elems]
        if all(p is not None for p in parts):
            return "(" + " + ".join(parts) + ")" if parts else "0"
        return None
    # map(ARRAY[...], ARRAY[...]) / ROW(...) constructors
    for fname in ("map", "row"):
        m = re.match(rf"(?is)^{fname}\s*\(", a)
        if m and _scan(a).close(m.end()) == len(a):
            parts = [
                _ds_expr(e, col_types)
                for e in _scan(a[m.end():-1]).items()
            ]
            if all(p is not None for p in parts):
                return "(" + " + ".join(parts) + ")" if parts else "0"
            return None
    # IF(cond, a, b): size follows the taken branch (NULL branch → 0)
    m = re.match(r"(?is)^IF\s*\(", a)
    if m and _scan(a).close(m.end()) == len(a):
        parts = _scan(a[m.end():-1]).items()
        if len(parts) == 3:
            da = _ds_expr(parts[1], col_types)
            db = _ds_expr(parts[2], col_types)
            if da is not None and db is not None:
                return f"IF({parts[0]}, {da}, {db})"
        return None
    # CAST(x AS T): dispatch on the declared target type
    m = re.match(r"(?is)^(?:TRY_)?CAST\s*\(", a)
    if m and _scan(a).close(m.end()) == len(a):
        tm = re.search(
            r"(?is)\bAS\s+([A-Za-z_]+)\s*(?:\(\s*(\d+)[^)]*\))?\s*\)$", a
        )
        if tm:
            tname = tm.group(1).lower()
            if tname == "char":
                n = tm.group(2)
                inner = a[m.end(): tm.start()].strip()
                trunc = (f"substring({inner}, 1, {n})" if n else inner)
                return f"COALESCE(octet_length(rtrim({trunc})), 0)"
            if tname in ("decimal", "dec", "numeric"):
                p = int(tm.group(2) or 38)
                return f"IF({a} IS NULL, 0, {8 if p <= 18 else 16})"
            st = _DS_CAST_TYPE_MAP.get(tname)
            if st is not None:
                return _ds_of_type(a, st)
    # typed literals: TYPE 'value'
    m = re.match(
        r"(?is)^(TINYINT|SMALLINT|INTEGER|INT|BIGINT|REAL|DOUBLE|DATE"
        r"|TIMESTAMP|DECIMAL|CHAR|VARCHAR)\s*'", a
    )
    if m:
        tname = m.group(1).lower()
        if tname == "decimal":
            digits = len(re.sub(r"\D", "", a[m.end():]))
            return f"IF({a} IS NULL, 0, {8 if digits <= 18 else 16})"
        st = _DS_CAST_TYPE_MAP.get(tname, "string")
        return _ds_of_type(a, "string" if tname in ("char", "varchar")
                           else st)
    # plain string literal
    if re.match(r"(?s)^'", a):
        return f"octet_length({a})"
    if re.match(r"(?i)^NULL$", a):
        return "0"
    if re.match(r"(?i)^(TRUE|FALSE)$", a):
        return "1"
    # bare numeric literals (Presto: in-range integer literal → INTEGER,
    # decimal point / exponent → DOUBLE-ish 8)
    if re.match(r"^[+-]?\d+$", a):
        return "4" if abs(int(a)) <= 2147483647 else "8"
    if re.match(r"^[+-]?(\d+\.\d*|\.\d+|\d+)(e[+-]?\d+)?$", a, re.I):
        return "8"
    # leaf column reference (optionally qualified) → catalog type
    m = re.match(r'^(?:[A-Za-z_][\w$]*\.)*([A-Za-z_][\w$]*|"[^"]+")$', a)
    if m and col_types:
        name = m.group(1).strip('"').lower()
        t = col_types.get(name)
        if t is not None:
            return _ds_of_type(a, t)
    return None


def _rewrite_stats_data_size_aggs(sql: str, col_types: dict | None) -> str:
    """``"$internal$sum_data_size_for_stats"(x)`` /
    ``"$internal$max_data_size_for_stats"(x)`` → SUM/MAX of the
    type-directed per-value size expression (BIGINT output, NULL on
    empty input — NullableLongState semantics)."""
    if "$internal$" not in sql:
        return sql
    sql = re.sub(
        r'"\$internal\$(sum|max)_data_size_for_stats"\s*\(',
        lambda m: f"__pads_dsagg_{m.group(1).lower()}(",
        sql,
        flags=re.IGNORECASE,
    )

    def build(kind):
        def _b(args):
            if len(args) != 1:
                return None
            ds = _ds_expr(args[0], col_types or {})
            if ds is None:
                raise ValueError(
                    f"$internal${kind}_data_size_for_stats: cannot derive"
                    f" the value type of {args[0]!r} (register the table"
                    f" so column types are known)"
                )
            return f"CAST({kind.upper()}({ds}) AS BIGINT)"
        return _b

    sql = _replace_fn_calls(sql, "__pads_dsagg_sum", build("sum"))
    sql = _replace_fn_calls(sql, "__pads_dsagg_max", build("max"))
    return sql


def rewrite(
    sql: str,
    json_scalar_cols: frozenset = frozenset(),
    char_cols: dict | None = None,
    ip_cols: frozenset | set | None = None,
    session_zone: str = "UTC",
    session_locale: str = "en",
    session_start_ms: int | None = None,
    legacy_timestamp: bool = False,
    col_types: dict | None = None,
) -> str:
    """Rewrite a Presto SQL string into Spark SQL.

    ``json_scalar_cols``: catalog columns provably struct-free (engine
    schema voting) — enables the JVM fast path for CAST(ROW(…) AS JSON).

    Structural rewrites (UNNEST/TABLESAMPLE) run over the whole text — their
    operand may itself contain string literals (e.g. ``UNNEST(split(text,
    ' '))``), so literal-splitting first would hide them. Function renames
    are word-boundary regexes and DO respect literal boundaries."""
    sql = _rewrite_literal_backslashes(sql)
    # before the ARRAY[...] literal rewrite: the data-size lowering
    # recurses over the Presto constructor spellings
    sql = _rewrite_stats_data_size_aggs(sql, col_types)
    sql = _rewrite_array_literals(sql)
    sql = _widen_array_decimal_literals(sql)
    sql = _rewrite_sign_typed(sql)
    sql = _rewrite_lambda_concat_depths(sql)
    sql = _rewrite_reduce_typing(sql)
    sql = _rewrite_element_array_concat(sql)
    sql = _rewrite_subscripts(sql)
    # locale surgery first: parse-side halfday translation must land
    # before the TSWTZ literal folds consume parse_datetime literals
    sql = _rewrite_locale_datetime(sql, session_locale)
    sql = _rewrite_at_time_zone(sql)
    # after the AT TIME ZONE desugar (so marked values flow into
    # at_timezone), before every pass that consumes temporal literals
    sql = _rewrite_tstz(
        sql, session_zone=session_zone, session_start_ms=session_start_ms,
        legacy_timestamp=legacy_timestamp,
    )
    if legacy_timestamp and session_zone != "UTC":
        sql = _rewrite_legacy_dst_arithmetic(sql, session_zone)
    sql = _rewrite_timezone_offset_fns(sql)
    sql = _rewrite_kurtosis(sql)
    sql = _rewrite_ml_functions(sql)
    sql = _rewrite_random_bound(sql)
    sql = rewrite_lambda_double_casts(sql)
    sql = _rewrite_apply_lambda(sql)
    sql = _rewrite_contains(sql)
    sql = _rewrite_fn_arity_compat(sql)
    sql = _rewrite_string_compat(sql)
    sql = _fold_row_of_json_cast(sql)
    sql = _fold_json_literal_casts(sql)
    sql = _fold_decimal_literal_negation(sql)
    sql = _promote_int_literals_near_decimal(sql)
    sql = _fold_decimal_literal_arith(sql)
    sql = _fold_numeric_literal_casts(sql)
    sql = _rewrite_scalar_compat_misc(sql)
    sql = _rewrite_to_iso8601_date(sql)
    sql = _rewrite_float_mod_literals(sql)
    sql = _rewrite_like_escapes(sql)
    sql = _rewrite_group_by_distinct(sql)
    sql = _rewrite_plain_grouping(sql)
    # before _rewrite_grouping_multi: hoisted grouping() sort items and
    # the shim's whole-call matches both need the pristine spelling
    sql = _rewrite_grouping_order_hoist(sql)
    # before _rewrite_grouping_multi: the empty-input global-row shim
    # matches whole grouping()/grouping_id() select items, which the
    # multi-arg lowering below turns into bit-sum arithmetic
    sql = _rewrite_empty_grouping_global(sql)
    sql = _rewrite_grouping_multi(sql)
    sql = _rewrite_in_values(sql)
    sql = _rewrite_color_fn_arity(sql)
    sql = _rewrite_array_join_timestamps(sql)
    sql = _fold_time_interval_arith(sql)
    sql = _fold_temporal_literal_varchar_casts(sql)
    # non-literal interval → varchar (aggregates / VALUES-bound columns)
    sql = _rewrite_interval_varchar_casts(sql)
    sql = _fold_ts_literals_in_varchar_container_casts(sql)
    # after the varchar fold (which needs the original unit spelling for
    # its own regex, though both handle every range) and the TIME fold;
    # before Spark's parser sees any partial-field range literal
    sql = _normalize_interval_literals(sql)
    sql = _rewrite_time_literals(sql)
    sql = _rewrite_time_casts(sql)
    sql = _rewrite_varbinary_type(sql)
    sql = _rewrite_ipaddress(sql, ip_seed=ip_cols)
    sql = _rewrite_real_decimal_cmp(sql)
    sql = _rewrite_setop_void_nulls(sql)
    sql = _rewrite_regex_arg_defaults(sql)
    # after the split-delimiter escaping pass: the lambda composition
    # emits REGEX split() calls that must not be literal-escaped
    sql = _rewrite_regexp_replace_lambda(sql)
    sql = _expand_presto_aggregates(sql)
    # implicit-lateral comma form ``FROM t, UNNEST(t.arr)`` — the CROSS
    # JOIN spelling lowers to LATERAL VIEW, which binds the left relation
    sql = _apply_outside_literals(
        sql,
        lambda c: re.sub(
            r",\s*UNNEST\s*\(", " CROSS JOIN UNNEST(", c, flags=re.IGNORECASE
        ),
    )
    sql = _rewrite_values_with_lambdas(sql)
    sql = _unwrap_parenthesized_joins(sql)
    sql = _rewrite_from_unnest(sql)
    sql = _rewrite_unnest_all(sql)
    sql = _collapse_trivial_subquery_wrappers(sql)
    sql = _rewrite_values_scalar_lists(sql)
    sql = _rewrite_fromless_subqueries(sql)
    # join-ON first: its conversion keeps the JOIN at statement depth 0,
    # where the ORDER-BY hoist would bury it inside the derived table
    sql = _rewrite_join_on_subquery(sql)
    sql = _rewrite_order_by_subquery_hoist(sql)
    sql = _TABLESAMPLE_RE.sub(r"TABLESAMPLE (\1 PERCENT)", sql)
    # type-position TIMESTAMP WITH TIME ZONE → Spark's session-zoned
    # TIMESTAMP (TIMESTAMP_LTZ — the closest model; Presto additionally
    # carries the zone per value, a documented README deviation)
    sql = _apply_outside_literals(
        sql,
        lambda c: re.sub(
            r"\bTIMESTAMP\s+WITH\s+TIME\s+ZONE\b",
            "TIMESTAMP",
            c,
            flags=re.IGNORECASE,
        ),
    )
    sql = _rewrite_try_cast(sql)
    sql = _rewrite_try_generic(sql)
    sql = _rewrite_cast_to_json(sql, json_scalar_cols)
    sql = _rewrite_json_casts(sql)
    sql = _rewrite_char_casts(sql, char_seed=char_cols)
    # must follow the cast rewrites: a 2-arg call pattern would otherwise
    # fire on type-position MAP(K, V) inside CAST targets
    sql = _rewrite_map_equality(sql)
    sql = _rewrite_array_row_equality(sql)
    sql = _rewrite_map_from_arrays(sql)
    sql = _strip_values_row(sql)
    sql = _rewrite_row_constructor(sql)
    sql = _rewrite_window_in_order_by(sql)
    sql = _rewrite_unordered_ranking_windows(sql)
    sql = _rewrite_frameless_window_frames(sql)
    sql = _rewrite_quantified(sql)
    sql = _rewrite_group_by_in_subquery(sql)
    sql = _rewrite_projected_in_subquery(sql)
    sql = _rewrite_int_literal_division(sql)
    # ``GROUP BY ()`` = one global group (SqlBase.g4 groupingSet can be
    # empty; Spark's parser rejects the bare form) ≡ ungrouped aggregation
    sql = re.sub(
        r"\bGROUP\s+BY\s*\(\s*\)(?!\s*,)", "", sql, flags=re.IGNORECASE
    )
    # bare NULL as a filter (``WHERE null`` — Presto types it boolean;
    # Spark rejects the VOID literal)
    sql = re.sub(
        r"\bWHERE\s+NULL\b(?!\s*(?:IS\b|IN\b|[=<>!+\-*/%]|AND\b|OR\b|NOT\b))",
        "WHERE CAST(NULL AS BOOLEAN)",
        sql,
        flags=re.IGNORECASE,
    )
    sql = _rewrite_order_by_nulls(sql)
    sql = _rewrite_datetime_patterns(sql)
    sql = _rewrite_joda_datetime_fns(sql)
    # Presto extract-field aliases (DateTimeFunctions extract grammar):
    # Spark spells them differently, and Presto DOW is ISO (Monday=1)
    sql = re.sub(
        r"(?i)\bextract\s*\(\s*(day_of_week|dow|day_of_month"
        r"|day_of_year|doy|year_of_week|yow)\s+FROM\b",
        lambda m: "extract(" + {
            "day_of_week": "DAYOFWEEK_ISO", "dow": "DAYOFWEEK_ISO",
            "day_of_month": "DAY", "day_of_year": "DOY", "doy": "DOY",
            "year_of_week": "YEAROFWEEK", "yow": "YEAROFWEEK",
        }[m.group(1).lower()] + " FROM",
        sql,
    )
    sql = _expand_tstz_markers(sql)
    sql = _rewrite_typed_literals(sql)
    return _apply_outside_literals(
        sql,
        lambda c: _rename_functions(
            _rewrite_bare_time_keywords(
                _DQUOTE_IDENT_RE.sub(
                    r"`\1`",
                    _COUNT_STAR_RE.sub(
                        "count(*)", _BARE_VARCHAR_RE.sub("AS STRING", c)
                    ),
                )
            )
        ),
    )
