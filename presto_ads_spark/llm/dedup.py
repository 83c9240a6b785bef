"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design (the point of each choice):

- *Exact*: hash-groupBy on md5(text) — one shuffle keyed by digest; at 100 TB
  the digest (16 B) shuffles, never the text.
- *MinHash+LSH*: per-doc signature of K minima (one pass over exploded
  shingles, map-side partial MIN combine), then candidate generation by LSH
  *band* self-join — the join key is a band fingerprint, so the shuffle is
  O(docs × bands) tiny rows and the quadratic blow-up only happens inside a
  bucket. This is the standard web-scale near-dup pipeline (cf. the MinHash
  scheme of Broder'97; Spark ML has MinHashLSH, but the explicit version
  keeps the hash deterministic across engines for the oracle).
- *SimHash*: K sign-summed bit positions per doc (one grouped agg), pairs by
  fingerprint equality.
- *n-gram Jaccard*: exact pairwise verify — only ever run on LSH candidates,
  never all pairs.

All hashes derive from md5 hex prefixes so DuckDB can reproduce them exactly
(integer arithmetic only; products bounded < 2^48 to avoid BIGINT overflow).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .hints import fits_broadcast

# Prime modulus < 2^28 keeps a*h + b < 2^48 (no BIGINT overflow, both engines).
MINHASH_P = 268435399
# (a, b) parameters for K=16 universal-hash permutations — fixed, arbitrary,
# coprime with P; deterministic across engines and runs.
MINHASH_AB: list[tuple[int, int]] = [
    (464955, 99), (533000, 569), (365261, 8190), (602939, 40897),
    (869677, 123984), (975319, 268042), (131071, 524287), (747211, 2),
    (87178, 291201), (479001, 60000), (655360, 1048573), (999983, 777),
    (222561, 33521), (104729, 104723), (15485863, 32452843 % MINHASH_P),
    (49979687, 67867967 % MINHASH_P),
][:16]
# keep a < 2^26 so a*h < 2^54 — trim the two big ones
MINHASH_AB = [(a % (1 << 20), b % MINHASH_P) for a, b in MINHASH_AB]

SIMHASH_BITS = 16


def md5_hash_col(c: Column, hex_chars: int = 7) -> Column:
    """Deterministic 28-bit-ish integer hash of a string (md5 hex prefix).

    DuckDB equivalent: ``('0x' || substr(md5(x),1,7))::BIGINT``.
    """
    return F.conv(F.substring(F.md5(c), 1, hex_chars), 16, 10).cast("bigint")


def md5_hash_sql(expr: str, hex_chars: int = 7) -> str:
    """SQL-string twin of ``md5_hash_col`` (same operator tree once parsed)."""
    return f"CAST(conv(substring(md5({expr}), 1, {hex_chars}), 16, 10) AS BIGINT)"


def shingles_sql(tokens: str, n: int = 3) -> str:
    """SQL-string twin of ``shingles()``.

    The K-wide dedup expression trees were originally built column-by-column
    through the Python Column API — hundreds of py4j round trips per query
    construction, measured at 1.4–2.3 s of scale-invariant per-invocation
    overhead on the minhash queries (r13 verdict item 1). A SQL string is
    parsed JVM-side in ONE round trip and resolves to the same analyzed
    operators (``F.when(c, a).otherwise(b)`` IS ``CASE WHEN c THEN a ELSE b
    END``), so results are bit-identical — oracle-verified.
    """
    return (
        f"array_distinct(CASE WHEN size({tokens}) < {n} "
        f"THEN array(array_join({tokens}, ' ')) "
        f"ELSE transform(sequence(0, size({tokens}) - {n}), "
        f"i -> array_join(slice({tokens}, i + 1, {n}), ' ')) END)"
    )


def shingles(tokens: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a token array (Spark-native HOFs)."""
    return F.array_distinct(
        F.when(
            F.size(tokens) < n, F.array(F.array_join(tokens, " "))
        ).otherwise(
            F.transform(
                F.sequence(F.lit(0), F.size(tokens) - n),
                lambda i: F.array_join(F.slice(tokens, i + 1, n), " "),
            )
        )
    )


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup via content digest: groups identical texts, keeps the min
    id as canonical. Output: (digest, canonical_id, n_copies)."""
    return (
        df.select(F.md5(F.col(text_col)).alias("digest"), F.col(id_col))
        .groupBy("digest")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def shingle_table(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                  n: int = 3) -> DataFrame:
    """(id, shingle) exploded distinct-shingle table.

    The token array is STAGED as a projection before shingles(): passing
    the raw split() expression into the per-gram slice re-evaluates the
    split once per gram (no CSE across HOF lambda boundaries) — an
    O(len²) blowup per document."""
    toked = df.selectExpr(
        f"`{id_col}` AS id", f"split(`{text_col}`, ' ') AS __t"
    )
    return toked.selectExpr(
        "id", f"explode({shingles_sql('__t', n)}) AS shingle"
    )


def minhash_signatures(sh: DataFrame) -> DataFrame:
    """K-column MinHash signature per id from a (id, shingle) table.

    Single grouped aggregation → map-side partial MINs; shuffle carries K
    longs per doc regardless of document size."""
    h = (md5_hash_col(F.col("shingle")) % MINHASH_P).alias("h")
    base = sh.select("id", h)
    aggs = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % MINHASH_P).alias(f"mh{i}")
        for i, (a, b) in enumerate(MINHASH_AB)
    ]
    return base.groupBy("id").agg(*aggs)


# K per-permutation array-min projections, precomputed once as SQL strings
# (module constants — query construction pays ONE selectExpr parse instead
# of ~K×10 py4j Column calls; identical analyzed operators, oracle-checked).
_MH_COLS_SQL: list[str] = [
    f"array_min(transform(hs, h -> ({a} * h + {b}) % {MINHASH_P})) AS mh{i}"
    for i, (a, b) in enumerate(MINHASH_AB)
]


def minhash_signatures_rowwise(df: DataFrame, text_col: str = "text",
                               id_col: str = "doc_id", n: int = 3) -> DataFrame:
    """ZERO-shuffle MinHash signatures: shingles → hashes → K array-mins,
    all as per-row HOF folds. At 100 TB this is the form you want —
    signature computation is embarrassingly parallel with the scan; at
    bench scale the persist is a CollapseProject barrier and at true
    scale the hashed stage would be checkpointed/written out instead
    (the persist itself is a real cost there); either way only the
    (id, K longs) signature rows ever move past this stage."""
    # stage the token array first — slicing the raw split() expression
    # inside shingles() re-evaluates the split once per gram (O(len²))
    toked = df.selectExpr(
        f"`{id_col}` AS id", f"split(`{text_col}`, ' ') AS __t"
    )
    hashes = (
        f"transform({shingles_sql('__t', n)}, "
        f"s -> {md5_hash_sql('s')} % {MINHASH_P})"
    )
    # persist the hash arrays: CollapseProject would otherwise inline the
    # md5 pipeline into each of the K array-min expressions. The entry is
    # intentionally NOT unpersisted here (callers still hold unresolved
    # references to it); a long-lived session deduping many corpora should
    # clear it via spark.catalog.clearCache() between corpora — the bench
    # does exactly that between queries.
    # (r13 note: a single aggregate() fold to a K-field struct of running
    # minima — no persist, md5 once per shingle — was tried and REVERTED:
    # bench-protocol A/B on the full lsh query read the fold form SLOWER
    # in every paired round, warm 2.2 s vs 1.4-1.7 s and cold 5-12 s vs
    # 3-4 s at sf0.1 — the per-element K-field struct allocation in the
    # fold's merge lambda costs more than the K separate array passes
    # over the materialized hash arrays.)
    hashed = toked.selectExpr("id", f"{hashes} AS hs").persist()
    return hashed.selectExpr("id", *_MH_COLS_SQL)


def check_max_bucket(max_bucket: int | None) -> None:
    """A bucket cap admits at least one document: with 0 or less the
    batch and streaming operators would disagree on what a full bucket
    keeps."""
    if max_bucket is not None and max_bucket < 1:
        raise ValueError(f"max_bucket must be None or >= 1, got {max_bucket}")


def lsh_candidate_pairs(
    sig: DataFrame, bands: int = 4, max_bucket: int | None = None
) -> DataFrame:
    """LSH banding: docs agreeing on all rows of any band become candidates.

    Output: distinct (id_a, id_b), id_a < id_b. Each signature explodes to
    ``bands`` (band_id, band_key) rows and candidates come from ONE
    self-join on (band_id, band_key) — one shuffle of the exploded
    signature table instead of the former per-band join + union + distinct
    (4 shuffles). At scale only (band_key, id) pairs ever move.

    ``max_bucket`` is the skew guard: a band bucket of b docs emits
    b·(b-1)/2 pairs, and one boilerplate/identical-text cluster (e.g. 1M
    copies of a legal footer) turns the self-join quadratic — 5·10^11
    pairs from a single bucket, which AQE's skew-split cannot shrink
    because the OUTPUT is what's quadratic. With a cap, buckets larger
    than ``max_bucket`` are dropped from pair generation (aggregate-then-
    filter BEFORE the self-join, so oversized buckets never fan out).
    Drop is the right semantic at scale: a bucket that large is an
    exact-duplicate cluster, which the exact/fingerprint dedup stage
    catches at O(b); run it first. Default None preserves exact
    behavior; a cap must be at least 1."""
    check_max_bucket(max_bucket)
    k = len(MINHASH_AB)
    rows = k // bands
    # one-parse SQL string (see shingles_sql: the Column-API form of this
    # K-wide tree was measured per-invocation overhead, not compute)
    entries = "array(" + ", ".join(
        "named_struct('band', {b}, 'bk', concat_ws(',', {cols}))".format(
            b=b,
            cols=", ".join(
                f"CAST(mh{i} AS STRING)"
                for i in range(b * rows, (b + 1) * rows)
            ),
        )
        for b in range(bands)
    ) + ")"
    e = sig.selectExpr("id", f"explode({entries}) AS e").selectExpr(
        "id", "e.band AS band", "e.bk AS bk"
    )
    if max_bucket is not None:
        # oversized buckets are FEW by assumption, so materialize just
        # their keys (map-side-combinable count -> tiny frame, persisted
        # so both join sides reuse it) and excise them with a BROADCAST
        # anti join — the exploded band rows themselves never shuffle
        # for the cap
        big = (
            e.groupBy("band", "bk")
            .count()
            .filter(F.col("count") > F.lit(int(max_bucket)))
            .select("band", "bk")
            .persist()
        )
        e = e.join(F.broadcast(big), ["band", "bk"], "left_anti")
    left = e.selectExpr("id AS id_a", "band", "bk")
    right = e.selectExpr("id AS id_b", "band", "bk")
    return (
        left.join(right, ["band", "bk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


# est_jaccard projection, precomputed once as a SQL string (same
# rationale as _MH_COLS_SQL). Python's sum() over the old Column whens
# prefixed a constant-folded `0 +`; integer addition is associative, so
# the parsed tree computes the identical exact value.
_EST_MATCH_SQL = (
    "("
    + " + ".join(
        f"(CASE WHEN a{i} = b{i} THEN 1 ELSE 0 END)"
        for i in range(len(MINHASH_AB))
    )
    + f") / CAST({len(MINHASH_AB)} AS DOUBLE) AS est_jaccard"
)
_SIG_A_SQL = ["id AS id_a"] + [f"mh{i} AS a{i}" for i in range(len(MINHASH_AB))]
_SIG_B_SQL = ["id AS id_b"] + [f"mh{i} AS b{i}" for i in range(len(MINHASH_AB))]


def minhash_near_dups_probed(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    threshold: float = 0.5, max_bucket: int | None = None,
) -> tuple[DataFrame, bool]:
    """``minhash_near_dups`` + the candidate-list broadcast-probe result.

    The verify pipeline gates ITS broadcast hints on the same question
    ("is the candidate list tiny?"); the est output is a row-subset of the
    candidate list (inner joins on unique ids + a threshold filter), so
    the one probe answers for both and the caller's second count job is
    dropped (r13 verdict item 1)."""
    sig = minhash_signatures_rowwise(df, text_col, id_col).persist()
    # candidate pairs are usually TINY relative to the corpus (LSH prunes
    # the N² space), and broadcasting them keeps the signature joins
    # shuffle-free — but candidate volume is data-dependent (one hot band
    # bucket can emit billions of pairs), so the hint is GATED on a bounded
    # size probe: past the cap the un-hinted frame goes in and AQE picks a
    # shuffle join from runtime sizes instead of a forced-broadcast OOM.
    # Persisted un-hinted so the probe doubles as cache materialization.
    cands_raw = lsh_candidate_pairs(sig, max_bucket=max_bucket).persist()
    cands_fit = fits_broadcast(cands_raw)
    cands = F.broadcast(cands_raw) if cands_fit else cands_raw
    a = sig.selectExpr(*_SIG_A_SQL)
    b = sig.selectExpr(*_SIG_B_SQL)
    est = (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .selectExpr("id_a", "id_b", _EST_MATCH_SQL)
        .filter(F.col("est_jaccard") >= threshold)
    )
    return est, cands_fit


def minhash_near_dups(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", threshold: float = 0.5,
                      max_bucket: int | None = None) -> DataFrame:
    """Full MinHash+LSH pipeline → (id_a, id_b, est_jaccard ≥ threshold).

    Signatures computed row-wise (zero shuffle); the table feeds 4 band
    self-joins + 2 verify joins, so persist it. (At 100 TB the signatures
    would be written to a table between the two stages — same idea,
    durable form.)"""
    est, _ = minhash_near_dups_probed(
        df, text_col, id_col, threshold, max_bucket
    )
    return est


def ngram_jaccard_pairs(df: DataFrame, candidate_pairs: DataFrame | None = None,
                        text_col: str = "text", id_col: str = "doc_id",
                        threshold: float = 0.5, n: int = 3,
                        candidates_fit_broadcast: bool | None = None,
                        carry_cols: tuple[str, ...] = (),
                        keep_zero_overlap: bool = False) -> DataFrame:
    """Exact n-gram Jaccard for pairs (all pairs if candidates is None —
    only sane for small inputs / verification of LSH candidates).

    ``candidates_fit_broadcast``: callers that already probed the
    candidate list's size (e.g. the registry's verify pipeline, which
    gates its own broadcast on the same persisted frame) pass the result
    here so the probe count-job isn't repeated per run.

    ``carry_cols``: extra ``candidate_pairs`` columns carried through to
    the output unchanged (candidate-driven branch only) — lets a caller
    that would otherwise join the result BACK to the candidate frame
    (e.g. to pair est_jaccard with exact jaccard) skip that join.

    ``keep_zero_overlap``: emit candidate pairs whose shingle sets do not
    intersect (jaccard 0.0 = 0/|A∪B|) instead of dropping them — with
    carry_cols AND ``threshold=0.0`` this makes the output row set exactly
    the candidate list, which is what replaces the caller-side LEFT join +
    COALESCE(.., 0.0) (a positive threshold still filters the 0.0 rows
    back out). Default False keeps the legacy contract (zero-overlap pairs
    never surfaced from the exploded intersection join either)."""
    if candidate_pairs is not None:
        # Candidate-driven verify, EXPLODE-FREE: only docs that appear in
        # a candidate pair are shingled at all (semi-join before shingling
        # — at 100 TB the verify stage reads |candidate docs|, not the
        # corpus), and each doc's distinct-shingle set stays an ARRAY
        # column (shingles() already emits one): the pair list joins to
        # the two array columns and |A∩B| is size(array_intersect(sa,sb)),
        # a per-row JVM hash-set op. The former shape exploded the
        # shingles and re-grouped |cands|·|shingles/doc| narrow rows
        # (~150M rows / 100s at sf1 on local[32]); this one moves only
        # |cands| + 2·|candidate docs| rows total and needs no aggregate.
        # Hints are GATED on bounded size probes — cand and the shingle
        # frame are data-dependent, and past the cap AQE picks shuffle
        # joins from runtime sizes instead of a forced-broadcast OOM.
        # Persist the UN-hinted frames and hint at each join site (a hint
        # baked inside a cached subtree may not survive InMemoryRelation
        # substitution).
        # The persist is load-bearing twice over: cand is referenced at
        # 4 plan sites below, and without the InMemoryRelation barrier
        # each reference re-embeds the candidate pipeline's full subtree
        # (measured r13: dropping it grew the verify plan 10k → 14.5k
        # rendered lines and the query 4.4 → 9.5 s from planning alone).
        cand = candidate_pairs.select("id_a", "id_b", *carry_cols).persist()
        if candidates_fit_broadcast is None:
            candidates_fit_broadcast = fits_broadcast(cand)
        hint = (
            F.broadcast if candidates_fit_broadcast else (lambda d: d)
        )
        ids = (
            cand.select(F.col("id_a").alias("cid"))
            .union(cand.select(F.col("id_b").alias("cid")))
            .distinct()
        )
        # ids are bounded by 2·|cand| rows — inherit cand's probe.
        docs = df.join(hint(ids), F.col(id_col) == F.col("cid"), "left_semi")
        toked = docs.selectExpr(
            f"`{id_col}` AS id", f"split(`{text_col}`, ' ') AS __t"
        )
        sh_arr = toked.selectExpr(
            "id", f"{shingles_sql('__t', n)} AS sh"
        ).persist()
        # The array frame is NEVER broadcast: a row-count gate is the
        # wrong proxy for rows carrying whole shingle sets (67k sf1 rows
        # pass the 1M cap but hash-relation-build of the fat rows measured
        # 6–20× slower than the shuffle join it replaced). Broadcasting
        # the narrow pair list and shuffling the array frame by id is the
        # shape that scales: each array row moves at most twice.
        # shuffle_hash strategy hints PIN the no-broadcast contract for
        # the fat array frames: the InMemoryRelation's size estimate
        # undercounts array rows, so without the hint the planner
        # broadcast-exchanged the WHOLE shingle frame into the second
        # join (hash-relation build of fat rows — the 6-20x slowdown
        # measured when this shape was first replaced, plus run-to-run
        # variance as the estimate hovered around the threshold). The
        # explicit broadcast hint on the narrow pair list still WINS
        # for the first join (Spark hint priority: broadcast >
        # shuffle_hash), so `a` streams without a shuffle; the second
        # join shuffles both sides by id_b and hash-builds on the
        # hinted array side — each array row still moves at most twice.
        a = sh_arr.select(F.col("id").alias("id_a"),
                          F.col("sh").alias("sa")).hint("shuffle_hash")
        b = sh_arr.select(F.col("id").alias("id_b"),
                          F.col("sh").alias("sb")).hint("shuffle_hash")
        n_inter = F.size(F.array_intersect("sa", "sb"))
        return (
            hint(cand)
            .join(a, "id_a")
            .join(b, "id_b")
            .select(
                "id_a",
                "id_b",
                *carry_cols,
                n_inter.alias("n_inter"),
                (F.size("sa") + F.size("sb")).alias("n_ab"),
            )
            # n_inter >= 1 keeps the legacy contract: zero-overlap pairs
            # never surfaced from the exploded intersection join either
            # (keep_zero_overlap instead emits them as 0/|A∪B| = 0.0).
            .filter(F.lit(keep_zero_overlap) | (F.col("n_inter") >= 1))
            .select(
                "id_a",
                "id_b",
                *carry_cols,
                (
                    F.col("n_inter").cast("double")
                    / (F.col("n_ab") - F.col("n_inter")).cast("double")
                ).alias("jaccard"),
            )
            .filter(F.col("jaccard") >= threshold)
        )
    else:
        # the shingle table feeds counts AND both sides of the intersection
        # join — persist so the corpus is shingled once, not three times.
        sh = shingle_table(df, text_col, id_col, n).persist()
        counts = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
        a = sh.select(F.col("id").alias("id_a"), "shingle")
        b = sh.select(F.col("id").alias("id_b"), "shingle")
        # Exact all-pairs via shingle self-join — verification-only shape;
        # only sane on small/test inputs.
        inter = (
            a.join(b, "shingle")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
    ca = counts.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"))
    cb = counts.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(ca, "id_a")
        .join(cb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("n_inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double")
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def simhash_fingerprints(df: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id", bits: int = SIMHASH_BITS) -> DataFrame:
    """SimHash: per token hash, sum ±1 per bit position, sign → bit.

    One explode + one grouped agg (bits columns); fingerprint is a BIGINT."""
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.col(text_col), " ")).alias("tok"),
    )
    h = md5_hash_col(F.col("tok"), 15)  # 60-bit token hash
    base = toks.select("id", h.alias("h"))
    bit_sums = [
        F.sum(
            F.when((F.shiftright(F.col("h"), i) % 2) == 1, 1).otherwise(-1)
        ).alias(f"s{i}")
        for i in range(bits)
    ]
    agg = base.groupBy("id").agg(*bit_sums)
    fingerprint = sum(
        F.when(F.col(f"s{i}") > 0, F.lit(1 << i)).otherwise(0) for i in range(bits)
    )
    return agg.select("id", fingerprint.cast("bigint").alias("simhash"))
