"""LLM-pipeline query registry entries + DuckDB oracles.

The dedup oracles are *generated* from the same (a,b,P) constants the Spark
implementation uses, so MinHash/SimHash signatures are bit-identical across
engines. Near-dup demos run over ``near_corpus``: the documents table plus
deterministic mutated/exact copies, so the expected pairs are non-empty and
scale with the table.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from . import q
from ..llm import dedup, multimodal, pipeline, similarity, text
from ..llm.dedup import MINHASH_AB, MINHASH_P
from ._util import scan_parts, spread, t

# --- shared corpus ---------------------------------------------------------


def near_corpus(spark, sf_dir):
    """documents ∪ near-dup copies (id+1e6, last 3 tokens dropped, every 5th
    doc) ∪ exact copies (id+2e6, every 7th doc).

    Deliberately NOT ``spread`` (r13 A/B): fanning the 3-partition union
    out to 32 round-robin partitions read 0.78 s vs 0.44 s for
    dedup_exact — the md5/shingle projections are cheap enough per row
    that the exchange costs more than the parallelism returns."""
    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    # SQL-string projections (one JVM parse each) — the Column-API form of
    # this union was ~0.2-0.4 s of py4j construction per invocation on a
    # path shared by every dedup/text bench query (r14; same analyzed
    # operators, oracle-checked).
    near = d.filter(
        "doc_id % 5 = 0 AND size(split(text, ' ')) > 10"
    ).selectExpr(
        "doc_id + 1000000 AS doc_id",
        "array_join(slice(split(text, ' '), 1, size(split(text, ' ')) - 3),"
        " ' ') AS text",
    )
    exact = d.filter("doc_id % 7 = 0").selectExpr(
        "doc_id + 2000000 AS doc_id", "text"
    )
    return d.unionAll(near).unionAll(exact)


CORPUS_SQL = """
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id,
         array_to_string((split(text, ' '))[1:len(split(text, ' ')) - 3], ' ') AS text
  FROM documents WHERE doc_id % 5 = 0 AND len(split(text, ' ')) > 10
  UNION ALL
  SELECT doc_id + 2000000 AS doc_id, text FROM documents WHERE doc_id % 7 = 0
)
"""

SHINGLES_SQL = """
sh AS (
  SELECT DISTINCT id, shingle FROM (
    SELECT doc_id AS id,
      unnest(CASE WHEN len(split(text, ' ')) < 3
                  THEN [array_to_string(split(text, ' '), ' ')]
                  ELSE list_transform(range(1, len(split(text, ' ')) - 1),
                       i -> concat_ws(' ', split(text, ' ')[i],
                                      split(text, ' ')[i + 1],
                                      split(text, ' ')[i + 2])) END) AS shingle
    FROM corpus
  ) raw
)
"""

_HASH = "('0x' || substr(md5(shingle), 1, 7))::BIGINT % {p}".format(p=MINHASH_P)

_SIG_COLS = ",\n    ".join(
    f"MIN(({a} * h + {b}) % {MINHASH_P}) AS mh{i}"
    for i, (a, b) in enumerate(MINHASH_AB)
)
_BANDS = 4
_ROWS = len(MINHASH_AB) // _BANDS
_BAND_JOINS = "\n  UNION\n".join(
    "  SELECT a.id AS id_a, b.id AS id_b FROM sigs a JOIN sigs b ON "
    + " AND ".join(
        f"a.mh{i} = b.mh{i}" for i in range(band * _ROWS, (band + 1) * _ROWS)
    )
    + " WHERE a.id < b.id"
    for band in range(_BANDS)
)
_MATCHES = " + ".join(
    f"CASE WHEN a.mh{i} = b.mh{i} THEN 1 ELSE 0 END" for i in range(len(MINHASH_AB))
)

MINHASH_ORACLE = f"""
WITH {CORPUS_SQL.strip().rstrip()},
{SHINGLES_SQL.strip()},
hashes AS (SELECT id, {_HASH} AS h FROM sh),
sigs AS (SELECT id, {_SIG_COLS} FROM hashes GROUP BY id),
cands AS (
{_BAND_JOINS}
)
SELECT c.id_a, c.id_b, ({_MATCHES}) / {float(len(MINHASH_AB))} AS est_jaccard
FROM cands c
JOIN sigs a ON a.id = c.id_a
JOIN sigs b ON b.id = c.id_b
WHERE ({_MATCHES}) / {float(len(MINHASH_AB))} >= 0.5
"""

# LSH estimate + candidate-gated exact n-gram-Jaccard verify in one result
# (the full near-dup pipeline: signatures → bands → estimate → verify).
MINHASH_VERIFY_ORACLE = f"""
WITH {CORPUS_SQL.strip().rstrip()},
{SHINGLES_SQL.strip()},
hashes AS (SELECT id, {_HASH} AS h FROM sh),
sigs AS (SELECT id, {_SIG_COLS} FROM hashes GROUP BY id),
cands AS (
{_BAND_JOINS}
),
est AS (
  SELECT c.id_a, c.id_b, ({_MATCHES}) / {float(len(MINHASH_AB))} AS est_jaccard
  FROM cands c
  JOIN sigs a ON a.id = c.id_a
  JOIN sigs b ON b.id = c.id_b
  WHERE ({_MATCHES}) / {float(len(MINHASH_AB))} >= 0.5
),
counts AS (SELECT id, COUNT(*) AS n_sh FROM sh GROUP BY id),
inter AS (
  SELECT e.id_a, e.id_b, COUNT(*) AS n_inter
  FROM est e
  JOIN sh sa ON sa.id = e.id_a
  JOIN sh sb ON sb.id = e.id_b AND sb.shingle = sa.shingle
  GROUP BY e.id_a, e.id_b
)
SELECT e.id_a, e.id_b, e.est_jaccard,
  COALESCE(CAST(i.n_inter AS DOUBLE)
           / CAST(ca.n_sh + cb.n_sh - i.n_inter AS DOUBLE), 0.0) AS jaccard
FROM est e
LEFT JOIN inter i ON i.id_a = e.id_a AND i.id_b = e.id_b
JOIN counts ca ON ca.id = e.id_a
JOIN counts cb ON cb.id = e.id_b
"""


@q(
    "dedup_exact",
    extended=True,
    tags=("llm", "dedup"),
    bench=True,
    doc="Exact dedup: md5-digest groupBy (digest shuffles, text does not).",
    oracle=f"""
WITH {CORPUS_SQL.strip()}
SELECT md5(text) AS digest, MIN(doc_id) AS canonical_id, COUNT(*) AS n_copies
FROM corpus GROUP BY md5(text)
""",
)
def dedup_exact(spark, sf_dir):
    return dedup.exact_dedup(near_corpus(spark, sf_dir))


@q(
    "dedup_minhash_lsh",
    tags=("llm", "dedup"),
    bench=True,
    doc="MinHash(K=16) near-dup estimate: zero-shuffle row-wise signature "
    "folds → LSH banding (ONE band self-join) → est_jaccard ≥ 0.5. Oracle "
    "reproduces the exact md5-based universal hashes. (The candidate-gated "
    "exact-Jaccard verify stage is benchmarked separately as "
    "dedup_minhash_verify — it does strictly more work, so it carries its "
    "own bench baseline.)",
    oracle=MINHASH_ORACLE,
)
def dedup_minhash_lsh(spark, sf_dir):
    return dedup.minhash_near_dups(near_corpus(spark, sf_dir), threshold=0.5)


@q(
    "dedup_minhash_verify",
    extended=True,
    tags=("llm", "dedup"),
    bench=True,
    doc="Full near-dup pipeline: MinHash(K=16) signatures (zero-shuffle "
    "row-wise folds) → LSH banding (ONE band self-join) → est_jaccard ≥ 0.5 "
    "→ candidate-GATED exact 3-gram Jaccard verify (the tiny pair list is "
    "broadcast into every verify join; only candidate docs are shingled; "
    "no unconfined shingle self-join anywhere). Oracle reproduces the "
    "exact md5-based universal hashes.",
    oracle=MINHASH_VERIFY_ORACLE,
)
def dedup_minhash_verify(spark, sf_dir):
    corpus = near_corpus(spark, sf_dir)
    # est feeds the verify stage's candidate list — persist so the
    # signature/banding pipeline runs once (at 100 TB this materializes to
    # a table between the two stages). The verify joins' broadcast gate
    # reuses the candidate-list probe from inside the LSH pipeline (est is
    # a row-subset of the candidate list, so "cands fit" answers for est
    # too) — ONE bounded count job per run instead of two (r14).
    est, est_fits = dedup.minhash_near_dups_probed(corpus, threshold=0.5)
    est = est.persist()
    # est_jaccard rides THROUGH the verify pipeline (carry_cols) and
    # zero-overlap candidates surface as jaccard 0.0 (= 0/|A∪B|), so the
    # output row set is exactly est's — the former est ⋈ exact LEFT join
    # + COALESCE(jaccard, 0.0) is gone, and est appears at ONE plan site
    # instead of two (r13: the join-back shape re-rendered the whole
    # persisted est subtree a second time in every run's plan).
    return dedup.ngram_jaccard_pairs(
        corpus,
        candidate_pairs=est.select("id_a", "id_b", "est_jaccard"),
        threshold=0.0,
        candidates_fit_broadcast=est_fits,
        carry_cols=("est_jaccard",),
        keep_zero_overlap=True,
    ).select("id_a", "id_b", "est_jaccard", "jaccard")


@q(
    "dedup_ngram_jaccard",
    extended=True,
    tags=("llm", "dedup"),
    doc="Exact 3-gram Jaccard ≥ 0.5 over the near-dup corpus (the verify "
    "stage of the LSH pipeline, run standalone at test scale).",
    oracle=f"""
WITH {CORPUS_SQL.strip()},
{SHINGLES_SQL.strip()},
counts AS (SELECT id, COUNT(*) AS n_sh FROM sh GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY a.id, b.id
)
SELECT id_a, id_b,
  CAST(n_inter AS DOUBLE) / CAST(ca.n_sh + cb.n_sh - n_inter AS DOUBLE) AS jaccard
FROM inter
JOIN counts ca ON ca.id = id_a
JOIN counts cb ON cb.id = id_b
WHERE CAST(n_inter AS DOUBLE) / CAST(ca.n_sh + cb.n_sh - n_inter AS DOUBLE) >= 0.5
""",
)
def dedup_ngram_jaccard(spark, sf_dir):
    return dedup.ngram_jaccard_pairs(near_corpus(spark, sf_dir), threshold=0.5)


_SIMHASH_SUMS = ",\n    ".join(
    f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS s{i}"
    for i in range(dedup.SIMHASH_BITS)
)
_SIMHASH_FP = " + ".join(
    f"CASE WHEN s{i} > 0 THEN {1 << i} ELSE 0 END"
    for i in range(dedup.SIMHASH_BITS)
)


@q(
    "dedup_simhash",
    extended=True,
    tags=("llm", "dedup"),
    doc="SimHash 16-bit fingerprints per document (sign-summed token-hash "
    "bits); duplicate groups share fingerprints.",
    oracle=f"""
WITH {CORPUS_SQL.strip()},
toks AS (
  SELECT doc_id AS id, unnest(split(text, ' ')) AS tok FROM corpus
),
hashes AS (
  SELECT id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM toks
),
sums AS (SELECT id, {_SIMHASH_SUMS} FROM hashes GROUP BY id)
SELECT id, CAST({_SIMHASH_FP} AS BIGINT) AS simhash FROM sums
""",
)
def dedup_simhash(spark, sf_dir):
    return dedup.simhash_fingerprints(near_corpus(spark, sf_dir))


# --- similarity search -----------------------------------------------------

_DOT = (
    "list_reduce(list_prepend(0.0, list_transform(list_zip({a}, {b}), "
    "z -> z[1] * z[2])), (x, y) -> x + y)"
)
_NORM = (
    "sqrt(list_reduce(list_prepend(0.0, list_transform({v}, x -> x * x)), "
    "(x, y) -> x + y))"
)


def _cos_sql(a: str, b: str) -> str:
    return f"{_DOT.format(a=a, b=b)} / ({_NORM.format(v=a)} * {_NORM.format(v=b)})"


@q(
    "sim_cosine_pairs",
    extended=True,
    tags=("llm", "similarity"),
    doc="Exact all-pairs cosine ≥ 0.25 (left-fold double arithmetic → "
    "bit-identical across engines).",
    oracle=f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       {_cos_sql('a.v', 'b.v')} AS cos_sim
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE {_cos_sql('a.v', 'b.v')} >= 0.25
""",
)
def sim_cosine_pairs(spark, sf_dir):
    return similarity.cosine_pairs(
        t(spark, sf_dir, "embeddings"), threshold=0.25
    )


@q(
    "sim_brute_topk",
    extended=True,
    tags=("llm", "similarity"),
    bench=True,
    doc="Exact cosine top-5 for 20 query vectors (broadcast queries).",
    oracle=f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
qs AS (SELECT vec_id, v FROM e WHERE vec_id < 20),
scored AS (
  SELECT q.vec_id AS query_id, n.vec_id AS nbr_id,
         {_cos_sql('q.v', 'n.v')} AS cos_sim
  FROM qs q JOIN e n ON n.vec_id <> q.vec_id
)
SELECT query_id, nbr_id, cos_sim, CAST(rnk AS INT) AS rnk FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, nbr_id) AS rnk
  FROM scored
) r WHERE rnk <= 5
""",
)
def sim_brute_topk(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    # spread the SCANNED side only: its 1-partition scan otherwise
    # serializes the whole Q×N kernel on one core (the query side is
    # broadcast, so spreading it would only add an exchange).
    out = similarity.brute_force_topk(
        spread(emb, scan_parts(sf_dir, "embeddings", session=spark)), queries, k=5
    )
    return out.select(
        "query_id", "nbr_id", "cos_sim", F.col("rnk").cast("int").alias("rnk")
    )


_BUCKET_BITS = 6
_BUCKET_SQL = " + ".join(
    f"(CASE WHEN v[{i + 1}] >= 0 THEN {1 << (_BUCKET_BITS - 1 - i)} ELSE 0 END)"
    for i in range(_BUCKET_BITS)
)


_NORMALIZED = (
    "list_transform(embedding::DOUBLE[], x -> x / "
    + _NORM.format(v="embedding::DOUBLE[]") + ")"
)


@q(
    "sim_lsh_topk",
    extended=True,
    bench=True,
    tags=("llm", "similarity"),
    doc="Hyperplane-LSH ANN: bucket on sign bits of leading dims; vectors "
    "pre-normalized so the per-pair kernel is a single dot fold.",
    oracle=f"""
WITH e AS (
  SELECT vec_id, {_NORMALIZED} AS v,
         {_BUCKET_SQL} AS bucket
  FROM embeddings
),
scored AS (
  SELECT a.vec_id AS query_id, b.vec_id AS nbr_id,
         {_DOT.format(a='a.v', b='b.v')} AS cos_sim
  FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
)
SELECT query_id, nbr_id, cos_sim, CAST(rnk AS INT) AS rnk FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, nbr_id) AS rnk
  FROM scored
) r WHERE rnk <= 3
""",
)
def sim_lsh_topk(spark, sf_dir):
    out = similarity.lsh_topk(
        spread(t(spark, sf_dir, "embeddings"), scan_parts(sf_dir, "embeddings", session=spark)),
        k=3,
        bits=_BUCKET_BITS,
    )
    return out.select(
        "query_id", "nbr_id", "cos_sim", F.col("rnk").cast("int").alias("rnk")
    )


_IVF_CELLS = 16
_IVF_NPROBE = 4


@q(
    "sim_ivf_topk",
    extended=True,
    tags=("llm", "similarity"),
    doc="IVF ANN (inverted-file index): deterministic landmark centroids, "
    "nearest-cell assignment, nprobe-cell probing, exact dot inside probed "
    "cells. Oracle replicates the whole index in DuckDB — left-fold dots "
    "are bit-identical, so candidates, scores and ranks hash-match.",
    oracle=f"""
WITH e AS (
  SELECT vec_id, {_NORMALIZED} AS v FROM embeddings
),
cents AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
  FROM e ORDER BY vec_id LIMIT {_IVF_CELLS}
),
assign AS (
  SELECT e.vec_id, c.cid, {_DOT.format(a='e.v', b='c.cv')} AS d
  FROM e CROSS JOIN cents c
),
ranked AS (
  SELECT vec_id, cid,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d DESC, cid) AS rn
  FROM assign
),
idx AS (SELECT vec_id AS nbr_id, cid AS cell FROM ranked WHERE rn = 1),
probes AS (SELECT vec_id AS query_id, cid AS cell FROM ranked WHERE rn <= {_IVF_NPROBE}),
scored AS (
  SELECT p.query_id, i.nbr_id,
         {_DOT.format(a='qe.v', b='ne.v')} AS cos_sim
  FROM probes p
  JOIN idx i ON p.cell = i.cell AND i.nbr_id <> p.query_id
  JOIN e qe ON qe.vec_id = p.query_id
  JOIN e ne ON ne.vec_id = i.nbr_id
)
SELECT query_id, nbr_id, cos_sim, CAST(rnk AS INT) AS rnk FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, nbr_id) AS rnk
  FROM scored
) r WHERE rnk <= 3
""",
)
def sim_ivf_topk(spark, sf_dir):
    out = similarity.ivf_topk(
        spread(t(spark, sf_dir, "embeddings"), scan_parts(sf_dir, "embeddings", session=spark)),
        k=3,
        n_cells=_IVF_CELLS,
        nprobe=_IVF_NPROBE,
    )
    return out.select(
        "query_id", "nbr_id", "cos_sim", F.col("rnk").cast("int").alias("rnk")
    )


# --- text analysis ---------------------------------------------------------


@q(
    "text_quality_stats",
    extended=True,
    tags=("llm", "text"),
    bench=True,
    oracle="""
SELECT doc_id,
  CAST(length(text) AS INT) AS n_chars,
  CAST(len(split(text, ' ')) AS INT) AS n_tokens,
  CAST(len(list_distinct(split(text, ' '))) AS INT) AS n_types,
  CAST(len(list_distinct(split(text, ' '))) AS DOUBLE) / len(split(text, ' ')) AS type_token_ratio,
  CAST(list_sum(list_transform(split(text, ' '), x -> length(x))) AS DOUBLE) / len(split(text, ' ')) AS avg_token_len,
  CAST(len(list_filter(split(text, ' '), x -> x IN ('the', 'a', 'of', 'and', 'to'))) AS DOUBLE)
    / len(split(text, ' ')) AS stopword_ratio,
  len(split(text, ' ')) >= 20 AS len_ok
FROM documents
""",
)
def text_quality_stats(spark, sf_dir):
    return text.text_stats(
        spread(t(spark, sf_dir, "documents"), scan_parts(sf_dir, "documents", session=spark))
    )


_LANG_SCORES = ",\n  ".join(
    "CAST(len(list_filter(split(text, ' '), x -> x IN ({marks}))) AS INT) AS score_{lang}".format(
        lang=lang, marks=", ".join(f"'{m}'" for m in marks)
    )
    for lang, marks in text.LANG_MARKERS.items()
)
_BEST = "greatest(" + ", ".join(f"score_{lang}" for lang in text.LANG_MARKERS) + ")"
_PRED_CASES = "\n    ".join(
    f"WHEN score_{lang} = {_BEST} THEN '{lang}'" for lang in text.LANG_MARKERS
)


@q(
    "text_lang_id",
    extended=True,
    tags=("llm", "text"),
    doc="Marker-word language-ID heuristic (argmax with fixed tiebreak); "
    "same scoring on both engines.",
    oracle=f"""
SELECT doc_id, lang_true,
  CASE WHEN {_BEST} <= 0 THEN 'und'
    {_PRED_CASES}
  END AS lang_pred,
  {_BEST} AS best_score
FROM (
  SELECT doc_id, lang AS lang_true,
  {_LANG_SCORES}
  FROM documents
) s
""",
)
def text_lang_id(spark, sf_dir):
    return text.lang_id(t(spark, sf_dir, "documents"))


@q(
    "text_fingerprint",
    extended=True,
    tags=("llm", "text"),
    doc="Rolling polynomial token-hash fingerprint (left fold, exact ints).",
    oracle=f"""
SELECT doc_id,
  list_reduce(
    list_prepend(CAST(0 AS BIGINT),
      list_transform(split(lower(trim(text)), ' '),
                     tok -> ('0x' || substr(md5(tok), 1, 7))::BIGINT % {MINHASH_P})),
    (acc, h) -> (acc * 131 + h) % {MINHASH_P}) AS fingerprint,
  md5(lower(trim(text))) AS digest
FROM documents
""",
)
def text_fingerprint(spark, sf_dir):
    return text.fingerprint(t(spark, sf_dir, "documents"))


# --- multimodal ------------------------------------------------------------


@q(
    "multimodal_features",
    tags=("llm", "multimodal"),
    bench=True,  # r14: drive the Arrow mapInPandas boundary (§4) in BENCH
    doc="Binary payload + mapInPandas feature extraction (deterministic "
    "md5 stand-in for the decode step; real codec stubbed — "
    "llm/multimodal.py).",
    oracle="""
SELECT doc_id,
  CAST(octet_length(encode(text)) AS INT) AS n_bytes,
  ('0x' || substr(md5(text), 1, 4))::BIGINT / 65535.0 AS feature0,
  CAST(('0x' || substr(md5(text), 5, 2))::BIGINT % 64 + 1 AS INT) AS width,
  CAST(('0x' || substr(md5(text), 7, 2))::BIGINT % 64 + 1 AS INT) AS height
FROM documents
""",
)
def multimodal_features(spark, sf_dir):
    # spread (§2.5): the Arrow-batched Python stage otherwise runs every
    # batch through ONE worker (single-partition fixture scan)
    payloads = multimodal.attach_payload(
        spread(t(spark, sf_dir, "documents"), scan_parts(sf_dir, "documents", session=spark))
    )
    return multimodal.extract_features(payloads)


@q(
    "dedup_embedding_cosine",
    tags=("llm", "dedup", "similarity"),
    doc="Embedding-cosine near-dup dedup: LSH-bucketed pairs >= 0.2, "
    "canonical id = min neighbor id (star assignment).",
    oracle=f"""
WITH e AS (
  SELECT vec_id, {_NORMALIZED} AS v, {_BUCKET_SQL} AS bucket
  FROM embeddings
),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         {_DOT.format(a='a.v', b='b.v')} AS cos_sim
  FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
  WHERE {_DOT.format(a='a.v', b='b.v')} >= 0.2
)
SELECT id_a AS id,
       least(MIN(id_b), MIN(id_a)) AS canonical_id,
       MAX(cos_sim) AS best_cos
FROM pairs GROUP BY id_a
""",
)
def dedup_embedding_cosine(spark, sf_dir):
    return similarity.embedding_near_dups(
        spread(t(spark, sf_dir, "embeddings"), scan_parts(sf_dir, "embeddings", session=spark)),
        threshold=0.2,
        bits=_BUCKET_BITS,
    )


@q(
    "pipeline_clean_corpus",
    tags=("llm", "pipeline"),
    bench=True,
    doc="End-to-end training-data cleaning pipeline in one plan: quality "
    "stats -> filter (length / stopword-ratio / type-token-ratio gates) -> "
    "exact dedup -> per-language survivor stats. The composed shape a real "
    "100TB ingest job runs nightly; every stage is the oracle-checked "
    "operator from this module.",
    oracle="""
WITH stats AS (
  SELECT doc_id, lang, text,
    length(text) AS n_chars,
    len(split(text, ' ')) AS n_tokens,
    CAST(len(list_distinct(split(text, ' '))) AS DOUBLE) / len(split(text, ' ')) AS ttr,
    CAST(len(list_filter(split(text, ' '), x -> x IN ('the', 'a', 'of', 'and', 'to'))) AS DOUBLE)
      / len(split(text, ' ')) AS stop_ratio
  FROM documents
),
kept AS (
  SELECT * FROM stats
  WHERE n_tokens >= 20 AND stop_ratio < 0.3 AND ttr > 0.3
),
deduped AS (
  SELECT lang, md5(text) AS digest, MIN(doc_id) AS canonical_id,
         MIN(n_chars) AS n_chars
  FROM kept GROUP BY lang, md5(text)
)
SELECT lang,
  COUNT(*) AS n_docs,
  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
  CAST(MIN(canonical_id) AS BIGINT) AS first_doc
FROM deduped GROUP BY lang
""",
)
def pipeline_clean_corpus(spark, sf_dir):
    from ..llm import text as llm_text

    docs = t(spark, sf_dir, "documents")
    # text_stats is a pure projection, so the stats ⋈ documents self-join
    # the pre-r13 shape paid (a full shuffle of the table by doc_id) is
    # removable: carry lang/text THROUGH the stats projection instead
    # (guide §2.4 — remove shuffles outright).
    stats = llm_text.text_stats(
        docs, carry_cols=("lang", "text")
    )
    kept = stats.filter(
        (F.col("n_tokens") >= 20)
        & (F.col("stopword_ratio") < 0.3)
        & (F.col("type_token_ratio") > 0.3)
    )
    deduped = kept.groupBy("lang", F.md5("text").alias("digest")).agg(
        F.min("doc_id").alias("canonical_id"),
        F.min("n_chars").alias("n_chars"),
    )
    return deduped.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.min("canonical_id").cast("long").alias("first_doc"),
    )


@q(
    "text_repetition",
    extended=True,
    tags=("llm", "text"),
    doc="Within-document repetition signals (Gopher/MassiveText rules): "
    "duplicate-bigram / top-bigram / top-token fractions + keep cut. "
    "Pure row-local HOF projection — no shuffle at any scale.",
    oracle="""
WITH b AS (
  SELECT doc_id, split(text, ' ') AS t,
    list_transform(range(1, len(split(text, ' '))),
      i -> concat_ws(' ', split(text, ' ')[i], split(text, ' ')[i + 1])) AS bg
  FROM documents
),
s AS (SELECT doc_id, t, bg, list_distinct(bg) AS db,
             list_distinct(t) AS dw FROM b),
f AS (
  SELECT doc_id,
    CASE WHEN len(bg) > 0
      THEN 1.0 - CAST(len(db) AS DOUBLE) / len(bg) ELSE 0.0
    END AS dup_bigram_frac,
    CASE WHEN len(bg) > 0
      THEN CAST(list_aggregate(list_transform(db,
             g -> len(list_filter(bg, x -> x = g))), 'max') AS DOUBLE)
           / len(bg)
      ELSE 0.0
    END AS top_bigram_frac,
    CASE WHEN len(t) > 0
      THEN CAST(list_aggregate(list_transform(dw,
             w -> len(list_filter(t, x -> x = w))), 'max') AS DOUBLE)
           / len(t)
      ELSE 0.0
    END AS top_token_frac
  FROM s
)
SELECT doc_id, dup_bigram_frac, top_bigram_frac, top_token_frac,
  dup_bigram_frac < 0.5 AND top_bigram_frac < 0.2
    AND top_token_frac < 0.3 AS keep
FROM f
""",
)
def text_repetition(spark, sf_dir):
    return text.repetition_stats(t(spark, sf_dir, "documents"))


MINHASH_CANDS_ORACLE = f"""
WITH {CORPUS_SQL.strip().rstrip()},
{SHINGLES_SQL.strip()},
hashes AS (SELECT id, {_HASH} AS h FROM sh),
sigs AS (SELECT id, {_SIG_COLS} FROM hashes GROUP BY id),
cands AS (
{_BAND_JOINS}
)
SELECT DISTINCT id_a, id_b FROM cands
"""


STREAM_TIMEOUT_S = 300  # streaming_lsh_dedup's wait for its availableNow query


@q(
    "streaming_lsh_dedup",
    extended=True,
    bench=True,  # r14: drive applyInPandasWithState + the signature fold
    tags=("llm", "dedup", "streaming"),
    doc="Dedup-on-INGEST: the near-dup corpus is re-delivered as a file "
    "STREAM and candidate pairs come from the stateful LSH bucket "
    "operator (streaming/dedup.py applyInPandasWithState — per-bucket id "
    "state, capped fan-out) instead of the batch self-join. The emitted "
    "pair set must equal the batch banding result, so the same DuckDB "
    "signature/banding SQL is the oracle.",
    oracle=MINHASH_CANDS_ORACLE,
)
def streaming_lsh_dedup(spark, sf_dir):
    import shutil
    import tempfile

    from ..streaming.dedup import streaming_lsh_candidates

    d = tempfile.mkdtemp(prefix="stream_lsh_")
    try:
        near_corpus(spark, sf_dir).coalesce(2).write.mode(
            "overwrite").parquet(d)
        schema = spark.read.parquet(d).schema
        stream = spark.readStream.schema(schema).parquet(d)
        pairs = streaming_lsh_candidates(
            stream, id_col="doc_id", max_bucket=None
        )
        spark.catalog.dropTempView("__stream_lsh_sink")  # idempotent re-run
        query = (
            pairs.writeStream.format("memory")
            .queryName("__stream_lsh_sink")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        if not query.awaitTermination(STREAM_TIMEOUT_S):
            # the sink holds only the batches done so far: a partial pair
            # set must not pass for the answer
            query.stop()
            raise TimeoutError(
                f"streaming_lsh_dedup: stream not drained within "
                f"{STREAM_TIMEOUT_S} s"
            )
    finally:
        # the memory sink holds the pairs; the input files are done with
        shutil.rmtree(d, ignore_errors=True)
    return spark.table("__stream_lsh_sink").select("id_a", "id_b").distinct()


# ===========================================================================
# Consolidated LLM suite entries (primary registry; the absorbed probes
# above are extended=True — still verified locally).
# ===========================================================================

from . import REGISTRY  # noqa: E402  (registered entries above are readable now)


@q(
    "dedup_fingerprints",
    tags=("llm", "dedup", "suite"),
    doc="Fingerprint-dedup suite: exact md5-digest groups "
    "(absorbs dedup_exact) + SimHash 16-bit fingerprints "
    "(absorbs dedup_simhash) as a slot union.",
    oracle=f"""
SELECT 'exact' AS probe, digest AS s, CAST(canonical_id AS BIGINT) AS k1,
       CAST(n_copies AS BIGINT) AS k2
FROM (
{REGISTRY["dedup_exact"].oracle}
) __e
UNION ALL
SELECT 'simhash' AS probe, CAST(NULL AS VARCHAR) AS s, CAST(id AS BIGINT) AS k1,
       CAST(simhash AS BIGINT) AS k2
FROM (
{REGISTRY["dedup_simhash"].oracle}
) __s
""",
)
def dedup_fingerprints(spark, sf_dir):
    ex = REGISTRY["dedup_exact"].spark_fn(spark, sf_dir).select(
        F.lit("exact").alias("probe"),
        F.col("digest").alias("s"),
        F.col("canonical_id").cast("long").alias("k1"),
        F.col("n_copies").cast("long").alias("k2"),
    )
    sh = REGISTRY["dedup_simhash"].spark_fn(spark, sf_dir).select(
        F.lit("simhash").alias("probe"),
        F.lit(None).cast("string").alias("s"),
        F.col("id").cast("long").alias("k1"),
        F.col("simhash").cast("long").alias("k2"),
    )
    return ex.unionAll(sh)


@q(
    "sim_topk",
    tags=("llm", "similarity", "suite"),
    doc="Similarity-search suite: exact brute-force (broadcast queries), "
    "hyperplane-LSH bucketed, and IVF cell-probed top-k, method-tagged "
    "(absorbs sim_brute_topk, sim_lsh_topk, sim_ivf_topk).",
    oracle=f"""
SELECT 'brute' AS method, query_id, nbr_id, cos_sim, rnk FROM (
{REGISTRY["sim_brute_topk"].oracle}
) __b
UNION ALL
SELECT 'lsh' AS method, query_id, nbr_id, cos_sim, rnk FROM (
{REGISTRY["sim_lsh_topk"].oracle}
) __l
UNION ALL
SELECT 'ivf' AS method, query_id, nbr_id, cos_sim, rnk FROM (
{REGISTRY["sim_ivf_topk"].oracle}
) __i
""",
)
def sim_topk(spark, sf_dir):
    frames = [
        REGISTRY[name].spark_fn(spark, sf_dir).select(
            F.lit(tag).alias("method"), "query_id", "nbr_id", "cos_sim", "rnk"
        )
        for tag, name in (
            ("brute", "sim_brute_topk"),
            ("lsh", "sim_lsh_topk"),
            ("ivf", "sim_ivf_topk"),
        )
    ]
    out = frames[0]
    for f in frames[1:]:
        out = out.unionAll(f)
    return out


@q(
    "text_metrics",
    tags=("llm", "text", "suite"),
    doc="Text-analysis suite fused into one staged projection chain: "
    "quality stats, marker-based language-ID, rolling-hash fingerprint, "
    "repetition signals (absorbs text_quality_stats, text_lang_id, "
    "text_fingerprint, text_repetition). One scan, zero joins/shuffles — "
    "each probe is a 1:1 row-local projection of the same table.",
    oracle=f"""
SELECT s.doc_id, s.n_chars, s.n_tokens, s.n_types, s.type_token_ratio,
       s.avg_token_len, s.stopword_ratio, s.len_ok,
       l.lang_true, l.lang_pred, l.best_score,
       f.fingerprint, f.digest,
       r.dup_bigram_frac, r.top_bigram_frac, r.top_token_frac,
       r.keep AS rep_keep
FROM (
{REGISTRY["text_quality_stats"].oracle}
) s
JOIN (
{REGISTRY["text_lang_id"].oracle}
) l ON l.doc_id = s.doc_id
JOIN (
{REGISTRY["text_fingerprint"].oracle}
) f ON f.doc_id = s.doc_id
JOIN (
{REGISTRY["text_repetition"].oracle}
) r ON r.doc_id = s.doc_id
""",
)
def text_metrics(spark, sf_dir):
    # ONE fused projection chain (llm/text.py metrics) instead of the four
    # standalone probes join-merged on doc_id: every probe is a 1:1
    # row-local projection of the same table, so the joins only
    # re-attached columns a single pass computes (r13: 4 scans + 3 joins
    # → 1 scan, 0 joins; outputs bit-identical — shared expression
    # builders). spread: the fused per-row work (repetition scans +
    # fingerprint fold) is the measured CPU-heavy family.
    return text.metrics(
        spread(t(spark, sf_dir, "documents"), scan_parts(sf_dir, "documents", session=spark))
    )


# ===========================================================================
# Corpus-prep pipeline operators (llm/pipeline.py): boilerplate n-gram
# removal, PII redaction, sequence packing, mixture sampling.
# ===========================================================================

_DOC_SHINGLES_SQL = SHINGLES_SQL.replace("FROM corpus", "FROM documents")

_BOILER_FRAC = 0.02  # df >= 2% of docs => boilerplate gram


@q(
    "text_boilerplate",
    extended=True,
    tags=("llm", "text", "pipeline"),
    bench=True,
    doc="Document-frequency boilerplate filter (CCNet-style): 3-gram doc "
    "frequencies -> grams in >= 2% of docs are boilerplate -> per-doc "
    "boilerplate ratio + keep cut. The high-DF set is bounded by "
    "grams_per_doc / min_frac regardless of corpus size, so the "
    "join-back side broadcasts at any scale.",
    oracle=f"""
WITH {_DOC_SHINGLES_SQL.strip()},
nd AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
gdf AS (SELECT shingle, COUNT(DISTINCT id) AS df FROM sh GROUP BY shingle),
boiler AS (
  SELECT shingle FROM gdf, nd WHERE df >= n_docs * {_BOILER_FRAC}
)
SELECT s.id AS doc_id,
  CAST(COUNT(*) AS BIGINT) AS n_grams,
  CAST(SUM(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS n_boiler,
  CAST(SUM(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
    / COUNT(*) AS boiler_ratio,
  CAST(SUM(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) * 2
    < COUNT(*) AS keep
FROM sh s LEFT JOIN boiler b ON b.shingle = s.shingle
GROUP BY s.id
""",
)
def text_boilerplate(spark, sf_dir):
    return pipeline.boilerplate_ngrams(
        t(spark, sf_dir, "documents"), n=3, min_doc_frac=_BOILER_FRAC
    )


_PII_CORPUS_SQL = """
pii AS (
  SELECT doc_id,
    CASE CAST(doc_id % 3 AS INTEGER)
      WHEN 0 THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com for details'
      WHEN 1 THEN text || ' call 555-867-5309 from 10.0.0.'
                  || CAST(doc_id % 200 AS VARCHAR)
      ELSE text
    END AS text
  FROM documents
)
"""


def _pii_corpus(spark, sf_dir):
    """documents with deterministic synthetic PII appended to 2/3 of docs
    (the raw corpus carries none) — mirror of _PII_CORPUS_SQL."""
    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    injected = (
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com for details"),
            ),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.concat(
                F.col("text"),
                F.lit(" call 555-867-5309 from 10.0.0."),
                (F.col("doc_id") % 200).cast("string"),
            ),
        )
        .otherwise(F.col("text"))
    )
    return d.select("doc_id", injected.alias("text"))


_EMAIL_PAT = pipeline.PII_PATTERNS["email"]
_PHONE_PAT = pipeline.PII_PATTERNS["phone"]
_IP_PAT = pipeline.PII_PATTERNS["ip"]


@q(
    "pii_redaction",
    extended=True,
    tags=("llm", "text", "pipeline"),
    doc="PII scrub: count + mask emails / phone numbers / IPv4 literals "
    "in one regexp projection (Java-regex == RE2 on these patterns; no "
    "shuffle, linear at any scale).",
    oracle=f"""
WITH {_PII_CORPUS_SQL.strip()}
SELECT doc_id,
  CAST(len(regexp_extract_all(text, '{_EMAIL_PAT}')) AS BIGINT) AS n_email,
  CAST(len(regexp_extract_all(text, '{_PHONE_PAT}')) AS BIGINT) AS n_phone,
  CAST(len(regexp_extract_all(text, '{_IP_PAT}')) AS BIGINT) AS n_ip,
  regexp_replace(
    regexp_replace(
      regexp_replace(text, '{_EMAIL_PAT}', '<EMAIL>', 'g'),
      '{_PHONE_PAT}', '<PHONE>', 'g'),
    '{_IP_PAT}', '<IP>', 'g') AS redacted
FROM pii
""",
)
def pii_redaction(spark, sf_dir):
    return pipeline.redact_pii(_pii_corpus(spark, sf_dir))


_PACK_BUDGET = 512


@q(
    "pipeline_pack_sequences",
    extended=True,
    tags=("llm", "pipeline"),
    bench=True,
    doc="Sequence packing: greedy in-order token-budget binning per "
    "source stream (running-sum window; one shuffle on the partition "
    "key, grouped agg reuses it — no second exchange).",
    oracle=f"""
WITH toks AS (
  SELECT source, doc_id, CAST(len(split(text, ' ')) AS BIGINT) AS n_tok
  FROM documents
),
seq AS (
  SELECT source, doc_id, n_tok,
    CAST(floor(COALESCE(SUM(n_tok) OVER (
      PARTITION BY source ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      / {_PACK_BUDGET}) AS BIGINT) AS seq_id
  FROM toks
)
SELECT source, seq_id,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(n_tok) AS BIGINT) AS seq_tokens
FROM seq GROUP BY source, seq_id
""",
)
def pipeline_pack_sequences(spark, sf_dir):
    return pipeline.pack_sequences(
        t(spark, sf_dir, "documents"), budget=_PACK_BUDGET
    )


@q(
    "pipeline_pack_chunked",
    extended=True,
    tags=("llm", "pipeline", "skew"),
    doc="SKEW-path sequence packing (chunk_docs): windows over (source, "
    "id-chunk) with exact chunk-base token offsets broadcast back — a "
    "hot source (half the corpus) no longer serializes one sort "
    "partition. The prefix sum decomposes exactly, so output is "
    "bit-identical to pipeline_pack_sequences (same oracle).",
    oracle=f"""
WITH toks AS (
  SELECT source, doc_id, CAST(len(split(text, ' ')) AS BIGINT) AS n_tok
  FROM documents
),
seq AS (
  SELECT source, doc_id, n_tok,
    CAST(floor(COALESCE(SUM(n_tok) OVER (
      PARTITION BY source ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      / {_PACK_BUDGET}) AS BIGINT) AS seq_id
  FROM toks
)
SELECT source, seq_id,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(n_tok) AS BIGINT) AS seq_tokens
FROM seq GROUP BY source, seq_id
""",
)
def pipeline_pack_chunked(spark, sf_dir):
    return pipeline.pack_sequences(
        t(spark, sf_dir, "documents"), budget=_PACK_BUDGET, chunk_docs=2000
    )


_MIX_RATES = {"src0": 900, "src1": 700, "src2": 500, "src3": 300}
_MIX_DEFAULT = 100
_MIX_CASE = (
    "CASE source "
    + " ".join(f"WHEN '{k}' THEN {v}" for k, v in _MIX_RATES.items())
    + f" ELSE {_MIX_DEFAULT} END"
)


@q(
    "pipeline_mix_sample",
    extended=True,
    tags=("llm", "pipeline"),
    doc="Domain-weighted mixture sampling: md5-hash-gated per-source keep "
    "rates (deterministic, engine-independent — not sample()); a filter "
    "plus one grouped count.",
    oracle=f"""
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_kept
FROM documents
WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT % 1000
      < {_MIX_CASE}
GROUP BY source
""",
)
def pipeline_mix_sample(spark, sf_dir):
    return pipeline.mixture_sample(
        t(spark, sf_dir, "documents"),
        rates_permille=_MIX_RATES,
        default_permille=_MIX_DEFAULT,
    )


# --- benchmark decontamination ---------------------------------------------

_DECON_N = 5  # word n-gram width (GPT-3 uses 13, Llama 8; 5 suits ~50-token docs)


def _decon_grams_sql(rel: str, n: int = _DECON_N) -> str:
    """DuckDB per-doc distinct word n-grams matching llm.dedup.shingles
    (whole text as the single gram when the doc is shorter than n)."""
    return f"""
  SELECT DISTINCT doc_id,
    CASE WHEN len(t) < {n} THEN array_to_string(t, ' ')
         ELSE array_to_string(t[i:i + {n - 1}], ' ') END AS gram
  FROM (SELECT doc_id, split(text, ' ') AS t FROM {rel}),
       UNNEST(range(1, greatest(len(t) - {n - 1}, 1) + 1)) AS u(i)
"""


@q(
    "pipeline_decontaminate",
    extended=True,
    tags=("llm", "pipeline"),
    bench=True,
    doc="Benchmark decontamination: train docs (doc_id % 17 <> 0) sharing "
    f"any word {_DECON_N}-gram with the eval split (doc_id % 17 = 0) are "
    "flagged. Eval gram-hash set broadcasts (8-byte keys, bounded by eval "
    "tokens); the corpus shuffles exactly once (per-doc regroup).",
    oracle=f"""
WITH evg AS (
  SELECT DISTINCT gram FROM ({_decon_grams_sql('(SELECT * FROM documents WHERE doc_id % 17 = 0)')}) __e
),
trg AS ({_decon_grams_sql('(SELECT * FROM documents WHERE doc_id % 17 <> 0)')})
SELECT trg.doc_id,
  CAST(COUNT(*) AS BIGINT) AS n_grams,
  CAST(SUM(CASE WHEN evg.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS n_hit,
  SUM(CASE WHEN evg.gram IS NOT NULL THEN 1 ELSE 0 END) > 0 AS contaminated,
  SUM(CASE WHEN evg.gram IS NOT NULL THEN 1 ELSE 0 END) = 0 AS keep
FROM trg LEFT JOIN evg ON evg.gram = trg.gram
GROUP BY trg.doc_id
""",
)
def pipeline_decontaminate(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    return pipeline.decontaminate(
        docs.filter(F.col("doc_id") % 17 != 0),
        docs.filter(F.col("doc_id") % 17 == 0),
        n=_DECON_N,
    )


# ===========================================================================
# pipeline_prep_ops — corpus-prep slot union (absorbs text_boilerplate,
# pii_redaction, pipeline_pack_sequences, pipeline_mix_sample,
# pipeline_decontaminate into one driver-scored row; the individual
# entries stay oracle-verified extended).
# ===========================================================================


@q(
    "pipeline_prep_ops",
    tags=("llm", "pipeline", "suite"),
    doc="Corpus-prep suite: DF-boilerplate filtering, PII redaction, "
    "sequence packing, mixture sampling — long-format slot union "
    "(probe, key, k1..k3, d1, s1).",
    oracle=f"""
SELECT 'boiler' AS probe, CAST(doc_id AS VARCHAR) AS key,
       n_grams AS k1, n_boiler AS k2,
       CAST(CASE WHEN keep THEN 1 ELSE 0 END AS BIGINT) AS k3,
       boiler_ratio AS d1, CAST(NULL AS VARCHAR) AS s1
FROM (
{REGISTRY["text_boilerplate"].oracle}
) __bo
UNION ALL
SELECT 'pii' AS probe, CAST(doc_id AS VARCHAR) AS key,
       n_email AS k1, n_phone AS k2, n_ip AS k3,
       CAST(NULL AS DOUBLE) AS d1, redacted AS s1
FROM (
{REGISTRY["pii_redaction"].oracle}
) __pi
UNION ALL
SELECT 'pack' AS probe, source AS key,
       seq_id AS k1, n_docs AS k2, seq_tokens AS k3,
       CAST(NULL AS DOUBLE) AS d1, CAST(NULL AS VARCHAR) AS s1
FROM (
{REGISTRY["pipeline_pack_sequences"].oracle}
) __pa
UNION ALL
SELECT 'mix' AS probe, source AS key,
       n_kept AS k1, CAST(NULL AS BIGINT) AS k2, CAST(NULL AS BIGINT) AS k3,
       CAST(NULL AS DOUBLE) AS d1, CAST(NULL AS VARCHAR) AS s1
FROM (
{REGISTRY["pipeline_mix_sample"].oracle}
) __mi
UNION ALL
SELECT 'decon' AS probe, CAST(doc_id AS VARCHAR) AS key,
       n_grams AS k1, n_hit AS k2,
       CAST(CASE WHEN contaminated THEN 1 ELSE 0 END AS BIGINT) AS k3,
       CAST(NULL AS DOUBLE) AS d1, CAST(NULL AS VARCHAR) AS s1
FROM (
{REGISTRY["pipeline_decontaminate"].oracle}
) __de
""",
)
def pipeline_prep_ops(spark, sf_dir):
    def shape(df, probe, key, k1, k2, k3, d1, s1):
        return df.select(
            F.lit(probe).alias("probe"),
            key.alias("key"),
            k1.cast("long").alias("k1"),
            k2.cast("long").alias("k2"),
            k3.cast("long").alias("k3"),
            d1.cast("double").alias("d1"),
            s1.cast("string").alias("s1"),
        )

    nul = F.lit(None)
    bo = shape(
        REGISTRY["text_boilerplate"].spark_fn(spark, sf_dir),
        "boiler",
        F.col("doc_id").cast("string"),
        F.col("n_grams"),
        F.col("n_boiler"),
        F.col("keep").cast("int"),
        F.col("boiler_ratio"),
        nul,
    )
    pi = shape(
        REGISTRY["pii_redaction"].spark_fn(spark, sf_dir),
        "pii",
        F.col("doc_id").cast("string"),
        F.col("n_email"),
        F.col("n_phone"),
        F.col("n_ip"),
        nul,
        F.col("redacted"),
    )
    pa = shape(
        REGISTRY["pipeline_pack_sequences"].spark_fn(spark, sf_dir),
        "pack",
        F.col("source"),
        F.col("seq_id"),
        F.col("n_docs"),
        F.col("seq_tokens"),
        nul,
        nul,
    )
    mi = shape(
        REGISTRY["pipeline_mix_sample"].spark_fn(spark, sf_dir),
        "mix",
        F.col("source"),
        F.col("n_kept"),
        nul,
        nul,
        nul,
        nul,
    )
    de = shape(
        REGISTRY["pipeline_decontaminate"].spark_fn(spark, sf_dir),
        "decon",
        F.col("doc_id").cast("string"),
        F.col("n_grams"),
        F.col("n_hit"),
        F.col("contaminated").cast("int"),
        nul,
        nul,
    )
    return bo.unionAll(pi).unionAll(pa).unionAll(mi).unionAll(de)
