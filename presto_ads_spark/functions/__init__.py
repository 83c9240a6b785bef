"""Presto function-compatibility layer (SURVEY.md §2.4 / M2).

Reference inventory: presto-main/.../metadata/FunctionRegistry.java:418-660.
Three mechanisms, in order of preference:

1. *Pure renames* — handled in rewrite.py (zero runtime cost).
2. *SQL temp functions* (Spark 4 ``CREATE TEMPORARY FUNCTION … RETURN expr``)
   — expression-level shims that stay JVM-side inside whole-stage codegen;
   this is the default for everything expressible as a Spark expression.
3. *Python/pandas UDFs* — last resort (none needed so far; decode stubs for
   multimodal live in llm/multimodal.py).

``register_all(spark)`` installs the whole layer on a session; the Engine
calls it at construction. It is idempotent but not cheap: it takes 16-19 s
on a 4-core host, over half of an SQL session's set-up (``functions.
register_s`` in ``perfbench``'s traced ``sql_session`` run), and a second
call in the same JVM still takes 9-10 s.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from .sql_udfs import SQL_FUNCTIONS
from .geospatial import GEOSPATIAL_SQL_FUNCTIONS
from . import datetime_compat  # noqa: F401  (re-export)


def register_all(spark: SparkSession) -> None:
    from .color import register_color_udfs
    from .geospatial import register_geospatial_python

    from .ipaddress_compat import IPADDRESS_SQL_FUNCTIONS, register_ipaddress_udfs

    # geo_convex_hull must exist before st_convex_hull's body resolves;
    # __presto_json_parse likewise before json_parse's body
    register_geospatial_python(spark)
    _register_python_udfs(spark)
    for stmt in SQL_FUNCTIONS + GEOSPATIAL_SQL_FUNCTIONS + IPADDRESS_SQL_FUNCTIONS:
        spark.sql(stmt)
    register_color_udfs(spark)
    register_ipaddress_udfs(spark)
    from .ml_train import register_ml_train_udfs

    register_ml_train_udfs(spark)


def _register_python_udfs(spark: SparkSession) -> None:
    """The (tiny) set of functions with no Spark-expression equivalent.
    Python UDFs — off the hot path by design; documented per function."""
    import unicodedata

    # Presto normalize(s[, form]) — Unicode normalization (NFC default).
    spark.udf.register(
        "normalize_unicode",
        lambda s, form="NFC": None if s is None else unicodedata.normalize(form, s),
        "string",
    )

    # Presto hmac_md5/sha1/sha256/sha512(varbinary, varbinary) -> varbinary
    # (VarbinaryFunctions.java hmacMd5/hmacSha1/hmacSha256/hmacSha512).
    # HMAC's keyed byte-level XOR has no Spark-expression form, so these are
    # Python UDFs; HMAC is never a hot-path analytic function, so the
    # serialization boundary is acceptable here.
    import hashlib
    import hmac as _hmac

    def _mk_hmac(algo):
        def fn(data, key):
            if data is None or key is None:
                return None
            return _hmac.new(bytes(key), bytes(data), algo).digest()

        return fn

    for name, algo in (
        ("hmac_md5", hashlib.md5),
        ("hmac_sha1", hashlib.sha1),
        ("hmac_sha256", hashlib.sha256),
        ("hmac_sha512", hashlib.sha512),
    ):
        spark.udf.register(name, _mk_hmac(algo), "binary")

    # xxhash64 / spooky_hash_v2_* (VarbinaryFunctions.java:270-296):
    # Presto returns the big-endian VARBINARY of the hash over the RAW
    # BYTES (seed 0) — Spark's native xxhash64 hashes the SQL value with
    # its own serialization and seed 42, a different function entirely.
    # Scalar compat surface; the engine's dedup pipelines keep Spark's
    # native JVM hash internally.
    from .hashes import inverse_beta_cdf as _inv_beta
    from .hashes import spooky_v2_128, xxh64

    def _as_bytes(b):
        return b.encode("utf-8") if isinstance(b, str) else bytes(b)

    spark.udf.register(
        "presto_xxhash64",
        lambda b: None if b is None
        else xxh64(_as_bytes(b)).to_bytes(8, "big"),
        "binary",
    )
    spark.udf.register(
        "spooky_hash_v2_32",
        lambda b: None if b is None
        else (spooky_v2_128(_as_bytes(b))[0] & 0xFFFFFFFF).to_bytes(4, "big"),
        "binary",
    )
    spark.udf.register(
        "spooky_hash_v2_64",
        lambda b: None if b is None
        else spooky_v2_128(_as_bytes(b))[0].to_bytes(8, "big"),
        "binary",
    )
    # MathFunctions.inverseBetaCdf (commons-math BetaDistribution
    # inverseCumulativeProbability) — Newton/bisection over the
    # continued-fraction regularized incomplete beta
    spark.udf.register(
        "inverse_beta_cdf",
        # args may arrive as Decimal (unparameterized literals)
        lambda a, b, p: None
        if a is None or b is None or p is None
        else _inv_beta(float(a), float(b), float(p)),
        "double",
    )

    # UrlFunctions.java parseUrl → java.net.URI: Presto returns the
    # EMPTY STRING for an absent component of a PARSEABLE URI
    # (nullToEmpty over URI getters) and NULL only when parsing fails
    # (URISyntaxException); opaque URIs (mailto:…) have null
    # host/path/query but a real scheme; a RELATIVE reference ('foo')
    # has path 'foo' and empty scheme. Spark's parse_url (Hive regex)
    # conflates absent-component and invalid-URI as NULL and can't see
    # relative references at all, so this is a faithful mini
    # java.net.URI in Python — pure scalar compat surface, never a hot
    # path (the llm/ pipelines use JVM parse_url/regexp directly).
    import re as _ure

    _URI_BAD_CHARS = _ure.compile(r'[ <>"{}|\\^`\x00-\x1f\x7f]')
    _URI_SPLIT = _ure.compile(
        r"^(?:([A-Za-z][A-Za-z0-9+.\-]*):)?(//[^/?#]*)?([^?#]*)"
        r"(?:\?([^#]*))?(?:#(.*))?$",
        _ure.DOTALL,
    )

    def _presto_url_part(url, part):
        if url is None or part is None:
            return None
        if _URI_BAD_CHARS.search(url):
            return None  # URISyntaxException → Presto NULL
        m = _URI_SPLIT.match(url)
        if not m:
            return None
        scheme, auth, path, query, frag = m.groups()
        opaque = scheme is not None and auth is None and bool(path) and (
            not path.startswith("/")
        )
        host = userinfo = None
        port = None
        if auth is not None:
            a = auth[2:]
            if "@" in a:
                userinfo, _, a = a.partition("@")
            hm = _ure.fullmatch(r"(.*?)(?::(\d+))?", a)
            host = hm.group(1)
            if hm.group(2):
                # java.net.URI parses the port as int: beyond-int-range
                # digits → URISyntaxException path → getPort() == -1 →
                # Presto url_extract_port NULL
                port = hm.group(2) if int(hm.group(2)) <= 2**31 - 1 else None
        if opaque:
            path = None
            query = None  # scheme-specific part is opaque
        if part == "protocol":
            return scheme or ""
        if part == "host":
            return host or ""
        if part == "path":
            return path or ""
        if part == "query":
            return query if query is not None else ""
        if part == "fragment":
            return frag if frag is not None else ""
        if part == "port":
            return port  # NULL when absent (URI.getPort() == -1)
        return None

    spark.udf.register("__presto_url_part", _presto_url_part, "string")

    # CAST(JSON AS MAP(K, JSON)) / ARRAY(JSON): the VALUES stay JSON
    # TEXT fragments ('"e"', 'null', '{"a":"b"}' — JsonToMapCast with a
    # JSON value type keeps the fragment verbatim); from_json/
    # get_json_object unquote scalars and drop JSON nulls, losing the
    # '"null"' vs null distinction. Canonical-form fragments via json —
    # compat surface, never a hot path.
    import json as _fj

    def _frag(v):
        return _fj.dumps(
            v, separators=(",", ":"), ensure_ascii=False, sort_keys=True
        )

    def _json_fragment_map(js):
        if js is None:
            return None
        try:
            obj = _fj.loads(js)
        except ValueError:
            return None
        if not isinstance(obj, dict):
            return None
        return {k: _frag(v) for k, v in obj.items()}

    def _json_fragment_array(js):
        if js is None:
            return None
        try:
            arr = _fj.loads(js)
        except ValueError:
            return None
        if not isinstance(arr, list):
            return None
        return [_frag(v) for v in arr]

    spark.udf.register(
        "__presto_json_fragment_map", _json_fragment_map,
        "map<string,string>",
    )
    spark.udf.register(
        "__presto_json_fragment_array", _json_fragment_array,
        "array<string>",
    )

    # Presto CAST(x AS JSON) canonicalizer. Presto serializes ROW values
    # as JSON ARRAYS of their field values while Spark's to_json emits
    # objects (reference: presto-main/.../operator/scalar/JsonOperators +
    # RowToJsonCast.java appendToJsonArray). The SQL rewriter lowers
    # CAST(e AS JSON) to presto_json_canon(to_json(struct(e), ...),
    # typeof(e)); this UDF re-serializes, turning every struct at any
    # depth into an array (field order preserved) while maps stay
    # objects — the runtime DDL type string is what disambiguates the
    # two. Pure compat surface (JSON text munging), never a hot path.
    import json as _json

    def _split_top(s: str) -> list[str]:
        out, depth, cur = [], 0, []
        for c in s:
            if c == "<":
                depth += 1
            elif c == ">":
                depth -= 1
            if c == "," and depth == 0:
                out.append("".join(cur))
                cur = []
            else:
                cur.append(c)
        if cur:
            out.append("".join(cur))
        return out

    def _parse_ddl(s: str):
        s = s.strip()
        low = s.lower()
        if low.startswith("struct<"):
            fields = _split_top(s[7:-1])
            return (
                "struct",
                [_parse_ddl(f.split(":", 1)[1]) for f in fields if ":" in f],
            )
        if low.startswith("array<"):
            return ("array", _parse_ddl(s[6:-1]))
        if low.startswith("map<"):
            parts = _split_top(s[4:-1])
            return ("map", _parse_ddl(parts[1]))
        return ("scalar", low)

    import re as _re

    _ISO_TS_RE = _re.compile(
        r"^(\d{4}-\d{2}-\d{2})T(\d{2}:\d{2}:\d{2})(?:\.(\d+))?"
        r"(?:Z|[+-]\d{2}:\d{2})?$"
    )

    def _canon_value(v, t):
        kind, sub = t
        if v is None:
            return None
        if kind == "struct" and isinstance(v, dict):
            return [_canon_value(x, st) for x, st in zip(v.values(), sub)]
        if kind == "array" and isinstance(v, list):
            return [_canon_value(x, sub) for x in v]
        if kind == "map" and isinstance(v, dict):
            return {k: _canon_value(x, sub) for k, x in v.items()}
        if (
            kind == "scalar"
            and isinstance(v, str)
            and sub
            and sub.startswith("timestamp")
        ):
            # Presto renders timestamps in JSON as the SQL text
            # 'yyyy-MM-dd HH:mm:ss.SSS' (TimestampToJsonCast via
            # printTimestampWithoutTimeZone); Spark's to_json emits
            # ISO-8601 — re-render
            m = _ISO_TS_RE.match(v)
            if m:
                ms = (m.group(3) or "0").ljust(3, "0")[:3]
                return f"{m.group(1)} {m.group(2)}.{ms}"
        return v

    def _presto_json_canon(js, ddl):
        if js is None or ddl is None:
            return None
        outer = _json.loads(js)
        # the rewriter wraps the operand in a one-field struct so scalars
        # serialize too; unwrap it here
        val = next(iter(outer.values()), None) if isinstance(outer, dict) else outer
        if val is None:
            return None  # CAST(NULL AS JSON) IS NULL (JsonOperators)
        return _json.dumps(
            _canon_value(val, _parse_ddl(ddl)),
            separators=(",", ":"),
            ensure_ascii=False,
        )

    spark.udf.register("presto_json_canon", _presto_json_canon, "string")

    # json_parse canonical text (JsonFunctions.java json_parse re-serializes
    # through SORTED_MAPPER: compact spacing, object keys sorted — JSON
    # equality is string equality over this form, JO348). Number lexemes
    # stay VERBATIM (conservative vs Presto's double round-trip; matches
    # the rewrite-time literal canonicalizer for same-scale spellings).
    # Returns NULL on malformed text — the json_parse temp fn raises on
    # that, TRY(json_parse(x)) passes the NULL through. Compat surface
    # only, never a hot path.
    class _RawNum(str):
        pass

    def _jp_canon(v):
        if isinstance(v, _RawNum):
            return str(v)
        if v is None:
            return "null"
        if v is True:
            return "true"
        if v is False:
            return "false"
        if isinstance(v, str):
            return _json.dumps(v, ensure_ascii=False)
        if isinstance(v, list):
            return "[" + ",".join(_jp_canon(x) for x in v) + "]"
        # dict: ordered-by-key (SORTED_MAPPER ORDER_MAP_ENTRIES_BY_KEYS —
        # Jackson sorts by String.compareTo, i.e. UTF-16 code units;
        # Python's code-point sort differs for supplementary-plane keys,
        # so sort by the UTF-16-BE encoding)
        items = sorted(
            ((k, _jp_canon(x)) for k, x in v.items()),
            key=lambda kv: kv[0].encode("utf-16-be", "surrogatepass"),
        )
        return (
            "{"
            + ",".join(
                _json.dumps(k, ensure_ascii=False) + ":" + t
                for k, t in items
            )
            + "}"
        )

    def _presto_json_parse(js):
        if js is None:
            return None
        def _no_const(_s):
            raise ValueError("non-finite JSON literal")
        try:
            v = _json.loads(
                js,
                parse_float=_RawNum,
                parse_int=_RawNum,
                parse_constant=_no_const,
            )
        except ValueError:
            return None
        return _jp_canon(v)

    spark.udf.register("__presto_json_parse", _presto_json_parse, "string")

    # normalize(s[, form]) (StringFunctions.normalize — java.text.Normalizer):
    # Unicode normalization has no Spark builtin; per-row Python UDF —
    # compat surface only, never a hot path (SHOW FUNCTIONS carries the
    # scale caveat).
    def _unicode_normalize(form, s):
        if s is None or form is None:
            return None
        import unicodedata

        return unicodedata.normalize(form, s)

    spark.udf.register("unicode_normalize", _unicode_normalize, "string")

    # word_stem (WordStemFunction.java → Snowball stemmers): English is
    # the real Porter2 (stemmer.py); round 11 adds fr/es/pt/it/de from
    # the published Snowball specs (stemmer_ml.py — the languages the
    # reference test suite pins). A language outside the reference's
    # table raises Presto's message; a table language we don't ship
    # raises a distinct not-implemented (documented gap). Compat
    # surface, not a hot path.
    from .stemmer import porter2_stem
    from .stemmer_ml import STEMMERS as _ML_STEMMERS

    _REF_STEM_LANGS = frozenset(
        # WordStemFunction.java STEMMERS table keys
        "ca da de en es eu fi fr hu hy ir it lt nl no pt ro ru sv tr"
        .split()
    )

    def _word_stem(w, lang="en"):
        if w is None:
            return None
        if lang == "en":
            return porter2_stem(w)
        fn = _ML_STEMMERS.get(lang)
        if fn is not None:
            return fn(w)
        if lang in _REF_STEM_LANGS:
            raise ValueError(
                f"word_stem: language {lang!r} not implemented "
                "(reference ships it via Snowball — documented gap)"
            )
        raise ValueError(f"Unknown stemmer language: {lang}")

    spark.udf.register("word_stem", _word_stem, "string")

    # from_utf8 with invalid-sequence replacement (StringFunctions.fromUtf8):
    # Presto substitutes U+FFFD (or the given replacement — a string or a
    # codepoint) for malformed sequences; Spark's decode throws. Python
    # 'replace' error handling follows the same WHATWG maximal-subsequence
    # convention as Java's CharsetDecoder. Compat path only.
    def _presto_from_utf8(b, repl):
        if b is None:
            return None
        if repl is None:
            return None
        if isinstance(repl, int):
            repl = chr(repl)
        return bytes(b).decode("utf-8", errors="replace").replace("�", repl)

    spark.udf.register("presto_from_utf8", _presto_from_utf8, "string")
