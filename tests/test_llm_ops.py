"""LLM/ML operator unit tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from presto_ads_spark.queries._util import t
from tests.conftest import SF_DIR


def test_learn_classify_pipeline(spark):
    from presto_ads_spark.llm import ml

    emb = t(spark, SF_DIR, "embeddings")
    # learnable target: label derived from the embedding itself
    data = emb.withColumn(
        "target",
        (F.element_at(F.transform("embedding", lambda x: x.cast("double")), 1) > 0).cast("int"),
    )
    model = ml.learn_classifier(data, "embedding", "target")
    scored = ml.classify(data, model, "embedding")
    acc = (
        scored.select(
            (F.col("prediction") == F.col("target")).cast("int").alias("ok")
        )
        .agg(F.avg("ok"))
        .collect()[0][0]
    )
    assert acc > 0.9, f"separable target should be learnable, acc={acc}"
    assert scored.count() == emb.count()


def test_learn_regress_pipeline(spark):
    from presto_ads_spark.llm import ml

    emb = t(spark, SF_DIR, "embeddings")
    data = emb.withColumn(
        "y",
        F.aggregate(
            F.slice(F.transform("embedding", lambda x: x.cast("double")), 1, 4),
            F.lit(0.0),
            lambda a, x: a + x,
        ),
    )
    model = ml.learn_regressor(data, "embedding", "y")
    out = ml.regress(data, model, "embedding")
    err = (
        out.select(F.abs(F.col("prediction") - F.col("y")).alias("e"))
        .agg(F.max("e"))
        .collect()[0][0]
    )
    assert err < 0.01, f"linear target should fit exactly, max err={err}"


def test_ivf_full_probe_equals_brute_force(spark):
    """IVF with nprobe = n_cells probes every cell -> must reproduce exact
    brute-force top-k (validates assignment/probe/rank plumbing)."""
    from presto_ads_spark.llm import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    full = similarity.ivf_topk(emb, k=3, n_cells=8, nprobe=8)
    exact = similarity.brute_force_topk(emb, emb, k=3).select(
        "query_id", "nbr_id", "rnk"
    )
    got = {tuple(r) for r in full.select("query_id", "nbr_id", "rnk").collect()}
    want = {tuple(r) for r in exact.collect()}
    assert got == want


def test_ivf_partial_probe_subset_and_coverage(spark):
    """nprobe < n_cells: every query still yields k candidates on this data,
    and every reported neighbor's score matches the exact cosine."""
    from pyspark.sql import functions as F

    from presto_ads_spark.llm import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = similarity.ivf_topk(emb, k=3, n_cells=16, nprobe=4)
    per_q = out.groupBy("query_id").count().agg(F.min("count")).collect()[0][0]
    assert per_q == 3
    n_queries = out.select("query_id").distinct().count()
    assert n_queries == emb.count()


def test_connected_components_chain(spark):
    """Min-label propagation: a chain 1-2-3 collapses to one component;
    a separate pair keeps its own."""
    from presto_ads_spark.llm import similarity

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a bigint, id_b bigint"
    )
    comps = {
        r.id: r.comp for r in similarity.connected_components(pairs).collect()
    }
    assert comps == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_embedding_near_dups_connected_chain(spark):
    """connected=True: chain A-B-C (A~B, B~C, A!~C) gets ONE canonical id —
    the single-pass star default leaves C pointing at B (r2/r3 verdict
    item: iterate-to-fixpoint option)."""
    from presto_ads_spark.llm import similarity

    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0, 0.0]),
            (2, [0.707, 0.707, 0.0, 0.0]),
            (3, [0.0, 1.0, 0.0, 0.0]),
            (9, [0.0, 0.0, 1.0, 0.0]),  # isolated: no near-dup pair
        ],
        "vec_id bigint, embedding array<double>",
    )
    star = {
        r.id: r.canonical_id
        for r in similarity.embedding_near_dups(
            emb, threshold=0.5, bits=2
        ).collect()
    }
    # star assignment: 3 only sees neighbor 2 → canonical 2 (the known gap)
    assert star == {1: 1, 2: 1, 3: 2}
    cc = {
        r.id: r.canonical_id
        for r in similarity.embedding_near_dups(
            emb, threshold=0.5, bits=2, connected=True
        ).collect()
    }
    assert cc == {1: 1, 2: 1, 3: 1}


# --- corpus-prep pipeline operators (llm/pipeline.py) ----------------------


def _docs(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id bigint, source string, text string"
    )


def test_pack_sequences_bins_are_contiguous_and_budget_aligned(spark):
    from presto_ads_spark.llm import pipeline

    # 5 docs of 3 tokens each, budget 6 → seqs of 2, 2, 1 docs per source
    rows = [(i, "s0", "a b c") for i in range(5)]
    out = pipeline.pack_sequences(
        _docs(spark, rows), budget=6
    ).collect()
    got = {r.seq_id: (r.n_docs, r.seq_tokens) for r in out}
    assert got == {0: (2, 6), 1: (2, 6), 2: (1, 3)}


def test_pack_sequences_overflow_doc_lands_in_started_bin(spark):
    from presto_ads_spark.llm import pipeline

    # doc1 overflows bin 0 (greedy streaming keeps it where it started)
    rows = [(0, "s0", "a b c d"), (1, "s0", "a b c d e"), (2, "s0", "a")]
    out = pipeline.pack_sequences(_docs(spark, rows), budget=6).collect()
    by_seq = {r.seq_id: r.n_docs for r in out}
    assert by_seq == {0: 2, 1: 1}


def test_mixture_sample_rates_and_determinism(spark):
    from presto_ads_spark.llm import pipeline

    rows = [(i, f"s{i % 2}", "x") for i in range(400)]
    kept1 = {
        r.source: r.n_kept
        for r in pipeline.mixture_sample(
            _docs(spark, rows), {"s0": 1000, "s1": 0}, default_permille=0
        ).collect()
    }
    # rate 1000 keeps everything, rate 0 keeps nothing (s1 absent)
    assert kept1 == {"s0": 200}
    kept2 = {
        r.source: r.n_kept
        for r in pipeline.mixture_sample(
            _docs(spark, rows), {"s0": 500}, default_permille=500
        ).collect()
    }
    kept3 = {
        r.source: r.n_kept
        for r in pipeline.mixture_sample(
            _docs(spark, rows), {"s0": 500}, default_permille=500
        ).collect()
    }
    assert kept2 == kept3  # hash gate is deterministic
    assert 0 < kept2["s0"] < 200 and 0 < kept2["s1"] < 200


def test_redact_pii_masks_and_counts(spark):
    from presto_ads_spark.llm import pipeline

    df = _docs(
        spark,
        [
            (1, "s", "mail a@b.io and c.d+x@e-f.org, call 123-456-7890"),
            (2, "s", "host 192.168.0.1 clean 1234-456-7890"),
            (3, "s", "nothing here"),
        ],
    )
    out = {r.doc_id: r for r in pipeline.redact_pii(df).collect()}
    assert (out[1].n_email, out[1].n_phone, out[1].n_ip) == (2, 1, 0)
    assert out[1].redacted == "mail <EMAIL> and <EMAIL>, call <PHONE>"
    assert (out[2].n_email, out[2].n_phone, out[2].n_ip) == (0, 0, 1)
    assert "<IP>" in out[2].redacted and "1234-456-7890" in out[2].redacted
    assert out[3].redacted == "nothing here"


def test_boilerplate_ngrams_flags_common_grams(spark):
    from presto_ads_spark.llm import pipeline

    # 'the same header' occurs in 3/4 docs (df=75%); unique tails don't
    rows = [
        (1, "s", "the same header alpha beta gamma"),
        (2, "s", "the same header delta epsilon zeta"),
        (3, "s", "the same header eta theta iota"),
        (4, "s", "totally different text entirely here now"),
    ]
    out = {
        r.doc_id: r
        for r in pipeline.boilerplate_ngrams(
            _docs(spark, rows), n=3, min_doc_frac=0.5
        ).collect()
    }
    assert out[1].n_boiler == 1 and out[1].n_grams == 4
    assert out[4].n_boiler == 0 and out[4].keep
    assert abs(out[1].boiler_ratio - 0.25) < 1e-9


def test_decontaminate_flags_ngram_overlap(spark):
    from presto_ads_spark.llm import pipeline

    train = _docs(
        spark,
        [
            (1, "s", "the quick brown fox jumps over the lazy dog"),
            (2, "s", "completely unrelated text about spark engines here"),
            (3, "s", "short"),  # < n tokens: whole text is the single gram
            (4, "s", "the quick brown fox sat still"),
        ],
    )
    ev = _docs(spark, [(100, "e", "a quick brown fox jumps high")])
    out = {
        r.doc_id: r
        for r in pipeline.decontaminate(train, ev, n=3).collect()
    }
    # doc 1 shares 'quick brown fox' + 'brown fox jumps' (2 of 7 grams)
    assert (out[1].n_grams, out[1].n_hit, out[1].contaminated) == (7, 2, True)
    assert (out[4].n_hit, out[4].keep) == (1, False)
    assert out[2].n_hit == 0 and out[2].keep
    assert out[3].n_grams == 1 and out[3].keep
    # eval doc shorter than n behaves like the train side (single gram)
    out2 = pipeline.decontaminate(train, _docs(spark, [(100, "e", "short")]), n=3)
    got = {r.doc_id: r.contaminated for r in out2.collect()}
    assert got == {1: False, 2: False, 3: True, 4: False}


def test_repetition_stats_degenerate_docs(spark):
    # a single-token doc used to crash: sequence(1, size-1) = [1, 0]
    # (descending) and element_at(t, 0) throws; 0/1-token docs simply
    # have no bigrams
    from presto_ads_spark.llm import text

    df = spark.createDataFrame(
        [
            (1, "hello"),
            (2, ""),
            (3, "a a a a a a"),
            (4, "the quick brown fox jumps over the lazy dog today"),
        ],
        "doc_id bigint, text string",
    )
    out = {r.doc_id: r for r in text.repetition_stats(df).collect()}
    # no crash, no bigrams; the lone token IS the top token (frac 1.0),
    # so the Gopher keep-cut correctly rejects it
    assert out[1].dup_bigram_frac == 0.0 and out[1].top_token_frac == 1.0
    assert out[2].dup_bigram_frac == 0.0 and out[2].top_bigram_frac == 0.0
    # 'a a' repeated: 5 bigrams, 1 distinct -> dup frac 0.8, not kept
    assert out[3].dup_bigram_frac == 0.8 and not out[3].keep
    assert out[4].keep


def test_lsh_bucket_cap_excises_hot_bucket(spark):
    # 6 identical-text docs collide in every band (the boilerplate
    # shape); 2 genuinely-near docs survive the cap. With max_bucket=5
    # the 15 quadratic pairs from the hot cluster never materialize.
    from presto_ads_spark.llm import dedup

    hot = "the same boiler plate legal footer text " * 5
    rows = [(i, hot) for i in range(6)] + [
        (10, "alpha beta gamma delta epsilon zeta eta theta"),
        (11, "alpha beta gamma delta epsilon zeta eta iota"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    full = dedup.minhash_near_dups(df, threshold=0.5)
    assert full.filter("id_a < 6").count() == 15  # C(6,2) hot pairs
    capped = dedup.minhash_near_dups(df, threshold=0.5, max_bucket=5)
    got = {(r.id_a, r.id_b) for r in capped.collect()}
    assert (10, 11) in got and not any(a < 6 for a, _ in got)


@pytest.mark.parametrize("cap", [0, -1])
def test_lsh_bucket_cap_must_be_positive(spark, cap):
    from presto_ads_spark.llm.dedup import lsh_candidate_pairs

    with pytest.raises(ValueError, match="max_bucket"):
        lsh_candidate_pairs(spark.range(1), max_bucket=cap)


def test_ngram_jaccard_carry_cols_and_zero_overlap(spark):
    # r13 verify restructure: carry_cols ride candidate columns through
    # the pipeline and keep_zero_overlap surfaces non-intersecting pairs
    # as exact jaccard 0.0 — together the output row set must be EXACTLY
    # the candidate list (what replaced the est LEFT JOIN exact +
    # COALESCE(jaccard, 0.0) join-back).
    from presto_ads_spark.llm import dedup

    docs = spark.createDataFrame(
        [
            (1, "a b c d e"),   # shingles {a b c, b c d, c d e}
            (2, "a b c d x"),   # ∩ doc1 = 2, ∪ = 4 -> jaccard 0.5
            (3, "p q r s t"),   # disjoint from doc1
        ],
        "doc_id bigint, text string",
    )
    cands = spark.createDataFrame(
        [(1, 2, 0.75), (1, 3, 0.125)],
        "id_a bigint, id_b bigint, est double",
    )
    out = dedup.ngram_jaccard_pairs(
        docs,
        candidate_pairs=cands,
        threshold=0.0,
        carry_cols=("est",),
        keep_zero_overlap=True,
    )
    rows = {(r.id_a, r.id_b): (r.est, r.jaccard) for r in out.collect()}
    assert set(rows) == {(1, 2), (1, 3)}  # row set == candidate list
    assert rows[(1, 2)] == (0.75, 0.5)
    assert rows[(1, 3)] == (0.125, 0.0)  # zero overlap surfaces as 0.0
    # legacy contract unchanged: without keep_zero_overlap the
    # non-intersecting pair never surfaces
    legacy = dedup.ngram_jaccard_pairs(
        docs, candidate_pairs=cands, threshold=0.0
    )
    assert {(r.id_a, r.id_b) for r in legacy.collect()} == {(1, 2)}


def test_fused_metrics_equals_standalone_probes(spark):
    # r13 text_metrics fusion: metrics() must be bit-identical to the
    # former stats ⋈ lang ⋈ fingerprint ⋈ repetition(keep→rep_keep)
    # join-merge (shared expression builders make this true by
    # construction; this pins it).
    from presto_ads_spark.llm import text

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today", "en"),
            (2, "el la de algo mas el la", "es"),
            (3, "a a a a a a", "en"),
            (4, "", "und"),
            (5, "solo", "de"),
        ],
        "doc_id bigint, text string, lang string",
    )
    fused = text.metrics(df)
    joined = (
        text.text_stats(df)
        .join(text.lang_id(df), "doc_id")
        .join(text.fingerprint(df), "doc_id")
        .join(
            text.repetition_stats(df).withColumnRenamed("keep", "rep_keep"),
            "doc_id",
        )
    )
    assert fused.columns == joined.columns
    f_rows = sorted(map(tuple, fused.collect()))
    j_rows = sorted(map(tuple, joined.collect()))
    assert f_rows == j_rows


def test_null_text_docs_dropped_from_gram_pipelines(spark):
    # r13 verdict item 7: the hits-only restructures compute n_grams
    # row-wise, which would KEEP a NULL-text doc (with a NULL/-1 gram
    # count) where the old explode shape — and the DuckDB oracle, which
    # groups over the exploded gram table — drop it. The explicit
    # isNotNull filter pins the oracle's row-set contract.
    from presto_ads_spark.llm import pipeline

    docs = spark.createDataFrame(
        [
            (1, "a b c d e"),
            (2, None),
            (3, "a b c d e"),
        ],
        "doc_id bigint, text string",
    )
    boiler = pipeline.boilerplate_ngrams(docs, n=3, min_doc_frac=0.5)
    assert {r.doc_id for r in boiler.collect()} == {1, 3}

    evals = spark.createDataFrame(
        [(9, "a b c x y"), (10, None)], "doc_id bigint, text string"
    )
    dec = pipeline.decontaminate(docs, evals, n=3)
    out = {r.doc_id: r.n_hit for r in dec.collect()}
    assert set(out) == {1, 3}  # NULL-text train doc dropped
    assert out[1] == 1 and out[3] == 1  # "a b c" hits; NULL eval row inert
