"""Streaming near-duplicate detection: MinHash-LSH dedup-on-ingest.

Batch twin: ``llm/dedup.py`` (``minhash_signatures_rowwise`` +
``lsh_candidate_pairs``) — same shingles, same MinHash permutations, same
banding. The batch form finds candidates with ONE self-join on
(band, band_key); a stream can't self-join against its own past without
unbounded stream-stream join state, so the streaming form makes that
state explicit and bounded: ``applyInPandasWithState`` keyed by LSH
bucket, where each bucket's state is the (capped) list of doc ids seen
in it. An arriving document emits one candidate pair per stored member
of every bucket it lands in — i.e. exactly the pairs the batch self-join
would produce, discovered incrementally at ingest time.

Scale design (100 TB / continuous ingest):
- Signatures are the same zero-shuffle per-row JVM HOF folds as batch;
  only (id, band, band_key) rows reach the stateful shuffle.
- State is partitioned by bucket key — the same partitioning the batch
  self-join shuffles on — and holds ONLY doc ids (16 B/entry), not text
  or signatures. Use the RocksDB state store provider for large keyspaces.
- ``max_bucket`` caps per-bucket state AND pair fan-out: a bucket that
  saturates stops emitting (a mega-bucket is an exact-duplicate cluster —
  the O(b) exact-dedup stage owns that case, mirroring the batch cap's
  drop semantics). Without a cap one hot boilerplate bucket would emit
  O(b²) pairs over the stream's lifetime.
- Optional ``ttl_minutes`` evicts idle buckets (processing-time timeout)
  for truly unbounded streams where only near-horizon dedup is wanted.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from ..llm.dedup import (
    MINHASH_AB,
    MINHASH_P,
    check_max_bucket,
    md5_hash_sql,
    shingles_sql,
)

PAIR_OUTPUT = StructType(
    [
        StructField("id_a", LongType()),
        StructField("id_b", LongType()),
        StructField("band", IntegerType()),
    ]
)

BUCKET_STATE = StructType(
    [
        StructField("ids", ArrayType(LongType())),
        StructField("saturated", BooleanType()),
    ]
)


# One aggregate() fold to a K-field struct of running minima, extracted
# through the inline() GENERATOR. Rationale (r14): a stream can't persist
# the per-doc hash array the way the batch form does, so the old K
# array-min columns each inlined the whole md5 shingle pipeline — 16
# md5+conv evaluations per shingle per row. The fold hashes each shingle
# ONCE; inline(array(fold)) surfaces the K fields as columns through a
# Generate node, which CollapseProject cannot merge into downstream
# projections (a plain struct column would be re-expanded K times).
# (The batch path measured the fold SLOWER than persisted arrays — r13
# revert — but on a stream the alternative is the 16x md5 re-evaluation,
# not a cached array, so the tradeoff flips; measured 13.9 -> see
# OPTIMIZATION_r14.md.)
_SIG_FOLD_SQL = (
    "aggregate({hashes}, "
    + "named_struct("
    + ", ".join(f"'mh{i}', CAST({MINHASH_P} AS BIGINT)"
                for i in range(len(MINHASH_AB)))
    + "), (acc, h) -> named_struct("
    + ", ".join(
        f"'mh{i}', least(acc.mh{i}, ({a} * h + {b}) % {MINHASH_P})"
        for i, (a, b) in enumerate(MINHASH_AB)
    )
    + "), acc -> acc)"
)


def streaming_signatures(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """Row-wise MinHash signatures for a STREAMING frame — identical
    permutations/shingles (and bit-identical minima) to the batch
    ``minhash_signatures_rowwise``, restructured as a single fold because
    streaming frames can't cache the hash-array staging projection."""
    toked = docs.selectExpr(
        f"`{id_col}` AS id", f"split(`{text_col}`, ' ') AS __t"
    )
    hashes = (
        f"transform({shingles_sql('__t', n)}, "
        f"s -> {md5_hash_sql('s')} % {MINHASH_P})"
    )
    return toked.selectExpr(
        "id", f"inline(array({_SIG_FOLD_SQL.format(hashes=hashes)}))"
    )


def band_entries(sig: DataFrame, bands: int = 4) -> DataFrame:
    """Explode a signature frame to (id, band, bk) bucket rows — the same
    banding layout as the batch ``lsh_candidate_pairs``."""
    k = len(MINHASH_AB)
    rows = k // bands
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
    return sig.selectExpr("id", f"explode({entries}) AS e").selectExpr(
        "id", "e.band AS band", "e.bk AS bk"
    )


def _make_bucket_fn(max_bucket: int | None, ttl_ms: int | None):
    def bucket_group(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        # Vectorized pair fan-out (r14, guide §4): the original per-doc
        # Python loop built each pair with interpreter-level appends —
        # ~18 µs/pair, and a near-dup-heavy corpus emits MILLIONS of
        # pairs (sf1: 1.54M pairs → ~27 s in this loop alone). The pair
        # SET an arriving batch adds is exactly (new × known) ∪
        # (pairs within new, in arrival order), which numpy builds with
        # repeat/tile and triu_indices. Emitted set, state contents and
        # saturation semantics are identical to the loop (pinned by the
        # stream/batch parity test); only intra-batch row ORDER differs,
        # which no consumer observes (candidate pairs are a set).
        import numpy as np

        band = int(key[0])
        if state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            prev_ids, saturated = state.get
            known = np.asarray(list(prev_ids), dtype="int64")
        else:
            known, saturated = np.empty(0, dtype="int64"), False
        out_lo: list = []
        out_hi: list = []
        for pdf in pdfs:
            docs = pd.unique(pdf["id"].to_numpy(dtype="int64"))
            if known.size:
                # at-least-once redelivery: idempotent
                docs = docs[~np.isin(docs, known)]
            if saturated or docs.size == 0:
                continue
            if max_bucket is not None:
                room = max_bucket - known.size
                if room <= 0:
                    saturated = True
                    continue
                if docs.size >= room:
                    # the doc that REACHES the cap is still admitted and
                    # paired; everything after it is dropped (same as the
                    # loop's post-append saturation flip)
                    docs = docs[:room]
                    saturated = True
            if known.size:
                a = np.repeat(docs, known.size)
                b = np.tile(known, docs.size)
                out_lo.append(np.minimum(a, b))
                out_hi.append(np.maximum(a, b))
            if docs.size > 1:
                iu, ju = np.triu_indices(docs.size, 1)
                a, b = docs[iu], docs[ju]
                out_lo.append(np.minimum(a, b))
                out_hi.append(np.maximum(a, b))
            known = np.concatenate([known, docs])
        state.update((known.tolist(), saturated))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        if out_lo:
            yield pd.DataFrame(
                {
                    "id_a": np.concatenate(out_lo),
                    "id_b": np.concatenate(out_hi),
                    "band": band,
                }
            )

    return bucket_group


def streaming_lsh_candidates(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bands: int = 4,
    max_bucket: int | None = 64,
    ttl_minutes: int | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs from a document STREAM, incrementally.

    Emits (id_a, id_b, band) with id_a < id_b the first time the pair
    shares a bucket; the same pair can surface from multiple bands —
    deduplicate downstream (``dropDuplicates`` with a watermark, or in the
    sink). With ``max_bucket=None`` the emitted pair set over the whole
    stream equals the batch ``lsh_candidate_pairs`` result on the same
    documents (stream/batch parity — tested). A cap must be at least 1."""
    check_max_bucket(max_bucket)
    sig = streaming_signatures(docs, text_col, id_col)
    e = band_entries(sig, bands)
    timeout = (
        GroupStateTimeout.NoTimeout
        if ttl_minutes is None
        else GroupStateTimeout.ProcessingTimeTimeout
    )
    return e.groupBy("band", "bk").applyInPandasWithState(
        _make_bucket_fn(
            max_bucket, None if ttl_minutes is None else ttl_minutes * 60_000
        ),
        outputStructType=PAIR_OUTPUT,
        stateStructType=BUCKET_STATE,
        outputMode="append",
        timeoutConf=timeout,
    )
