"""Structured Streaming tests: stream/batch parity on the same
transformation (the property that makes streaming results trustworthy)."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from presto_ads_spark import streaming
from presto_ads_spark.queries._util import t
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def events_dir(tmp_path_factory):
    # File-stream sources need a directory containing only the stream's
    # files; testdata is read-only → copy the one parquet out.
    d = tmp_path_factory.mktemp("events_stream")
    shutil.copy(os.path.join(SF_DIR, "events.parquet"), d / "events.parquet")
    return str(d)


def test_windowed_counts_stream_equals_batch(spark, events_dir):
    stream = streaming.read_events_stream(spark, events_dir)
    agg = streaming.windowed_event_counts(stream)
    got = {
        (r.win_start, r.event_type): (r.n, r.total)
        for r in streaming.run_to_memory(agg, "win_counts").collect()
    }

    batch_events = streaming.with_event_time(
        spark.read.schema(streaming.EVENTS_SCHEMA).parquet(events_dir)
    )
    batch_agg = (
        batch_events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(14,4)")).cast("double").alias("total"),
        )
        .select(F.col("w.start").alias("win_start"), "event_type", "n", "total")
    )
    expected = {
        (r.win_start, r.event_type): (r.n, r.total) for r in batch_agg.collect()
    }
    assert got == expected and len(got) > 0


def test_sessionize_batch(spark):
    ev = t(spark, SF_DIR, "events")
    sess = streaming.sessionize(ev, gap_minutes=30)
    rows = sess.filter(F.col("user_id") == 1).orderBy("ts", "event_id").collect()
    assert rows, "user 1 should have events"
    # session ids start at 1 and never decrease along the timeline
    ids = [r.session_id for r in rows]
    assert ids[0] == 1
    assert all(b - a in (0, 1) for a, b in zip(ids, ids[1:]))


def test_stateful_sessionize_stream(spark, events_dir):
    """applyInPandasWithState sessionization: closed sessions from the
    stream must match the batch sessionizer's session inventory."""
    from pyspark.sql import functions as F

    from presto_ads_spark.streaming import stateful

    stream = streaming.read_events_stream(spark, events_dir)
    out = stateful.streaming_sessionize(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("sess_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = spark.table("sess_stream")

    # Batch twin: sessions with their aggregates.
    ev = streaming.with_event_time(
        spark.read.schema(streaming.EVENTS_SCHEMA).parquet(events_dir)
    )
    batch = (
        streaming.sessionize(ev, gap_minutes=30)
        .join(ev.select("event_id", "value"), "event_id")
        .groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    got_keys = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in got.collect()
    }
    batch_keys = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in batch.collect()
    }
    # The stream only emits *closed* sessions (watermark can hold back the
    # tail session per user) → subset, and substantial.
    assert got_keys <= batch_keys
    assert len(got_keys) >= 0.5 * len(batch_keys) and len(got_keys) > 0


def test_streaming_dedup(spark, events_dir, tmp_path):
    """Duplicate the stream input (two copies of the file) — streaming
    dedup must restore the original cardinality."""
    import shutil

    d = tmp_path / "dup_events"
    d.mkdir()
    shutil.copy(f"{events_dir}/events.parquet", d / "a.parquet")
    shutil.copy(f"{events_dir}/events.parquet", d / "b.parquet")

    stream = streaming.read_events_stream(spark, str(d))
    deduped = streaming.streaming_dedup(stream)
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = spark.table("dedup_stream").count()
    original = spark.read.schema(streaming.EVENTS_SCHEMA).parquet(events_dir).count()
    assert got == original


def test_native_session_window_agg(spark, events_dir):
    """Native session_window streaming aggregation (the built-in twin of the
    custom stateful sessionizer): totals must match a batch session_window."""
    from pyspark.sql import functions as F

    stream = streaming.read_events_stream(spark, events_dir)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("s"), "user_id", "n")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("native_sess")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {(r.s, r.user_id): r.n for r in spark.table("native_sess").collect()}

    ev = streaming.with_event_time(
        spark.read.schema(streaming.EVENTS_SCHEMA).parquet(events_dir)
    )
    batch = (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("s"), "user_id", "n")
    )
    expected = {(r.s, r.user_id): r.n for r in batch.collect()}
    assert got == expected and len(got) > 0


def test_stream_stream_interval_join_equals_batch(spark, events_dir):
    """click→purchase attribution: stream-stream join result must equal the
    identical join on the static frame."""
    clicks = streaming.read_events_stream(spark, events_dir).filter(
        F.col("event_type") == "click"
    )
    purchases = streaming.read_events_stream(spark, events_dir).filter(
        F.col("event_type") == "purchase"
    )
    joined = streaming.stream_stream_interval_join(clicks, purchases)
    got = {
        (r.l_id, r.r_id)
        for r in streaming.run_to_memory(
            joined, "ss_join", output_mode="append"
        ).collect()
    }

    batch = streaming.with_event_time(
        spark.read.schema(streaming.EVENTS_SCHEMA).parquet(events_dir)
    )
    b_clicks = batch.filter(F.col("event_type") == "click")
    b_purch = batch.filter(F.col("event_type") == "purchase")
    expected = {
        (r.l_id, r.r_id)
        for r in streaming.stream_stream_interval_join(
            b_clicks, b_purch
        ).collect()
    }
    assert got == expected and len(got) > 0


@pytest.fixture(scope="module")
def docs_two_batches(tmp_path_factory, spark):
    """documents split into two parquet files (doc_id parity) so the file
    source delivers two micro-batches (maxFilesPerTrigger=1) — exercising
    bucket state ACROSS batches, not just within one."""
    d = tmp_path_factory.mktemp("docs_stream")
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(
        str(d / "even")
    )
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(
        str(d / "odd")
    )
    flat = tmp_path_factory.mktemp("docs_stream_flat")
    n = 0
    for sub in ("even", "odd"):
        for f in os.listdir(d / sub):
            if f.endswith(".parquet"):
                shutil.copy(d / sub / f, flat / f"{n}.parquet")
                n += 1
    return str(flat)


def test_streaming_lsh_candidates_equal_batch(spark, docs_two_batches):
    """Dedup-on-ingest: the pair set discovered incrementally by the
    stateful bucket operator (across ≥2 micro-batches) must equal the
    batch LSH self-join's candidate pairs on the same documents."""
    from presto_ads_spark.llm import dedup as batch_dedup
    from presto_ads_spark.streaming import dedup as sdedup

    docs_schema = spark.read.parquet(docs_two_batches).schema
    stream = (
        spark.readStream.schema(docs_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(docs_two_batches)
    )
    pairs = sdedup.streaming_lsh_candidates(stream, max_bucket=None)
    q = (
        pairs.writeStream.format("memory")
        .queryName("lsh_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        (r.id_a, r.id_b) for r in spark.table("lsh_stream").collect()
    }

    docs = spark.read.parquet(docs_two_batches)
    sig = batch_dedup.minhash_signatures_rowwise(docs)
    expected = {
        (r.id_a, r.id_b)
        for r in batch_dedup.lsh_candidate_pairs(sig, bands=4).collect()
    }
    assert got == expected and len(got) > 0


def test_streaming_lsh_bucket_cap(spark, tmp_path):
    """A saturating bucket (many near-identical docs) stops emitting at
    the cap: pair count is bounded by C(cap, 2) per bucket instead of
    growing quadratically with the duplicate cluster."""
    from presto_ads_spark.streaming import dedup as sdedup

    d = tmp_path / "boiler"
    rows = [(i, "common legal footer text repeated verbatim") for i in range(40)]
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(
        1
    ).write.parquet(str(d))
    docs_schema = spark.read.parquet(str(d)).schema
    stream = spark.readStream.schema(docs_schema).parquet(str(d))
    pairs = sdedup.streaming_lsh_candidates(stream, max_bucket=5)
    q = (
        pairs.writeStream.format("memory")
        .queryName("lsh_cap")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    per_band = {}
    for r in spark.table("lsh_cap").collect():
        per_band[r.band] = per_band.get(r.band, 0) + 1
    # identical texts land in ONE bucket per band; each bucket emits at
    # most C(5,2)=10 pairs before saturating (vs C(40,2)=780 uncapped)
    assert per_band and all(n <= 10 for n in per_band.values())


@pytest.mark.parametrize("cap", [0, -1])
def test_streaming_lsh_bucket_cap_must_be_positive(spark, cap):
    from presto_ads_spark.streaming import dedup as sdedup

    with pytest.raises(ValueError, match="max_bucket"):
        sdedup.streaming_lsh_candidates(spark.range(1), max_bucket=cap)


def test_streaming_lsh_dedup_timeout_raises(spark, tmp_path, monkeypatch):
    """A stream that is not drained in time is stopped and raises instead
    of returning the pairs of the batches done so far; its input
    directory is removed either way."""
    import tempfile

    from presto_ads_spark.queries import llm

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(llm, "STREAM_TIMEOUT_S", 0.001)
    with pytest.raises(TimeoutError, match="not drained"):
        llm.streaming_lsh_dedup(spark, SF_DIR)
    assert os.listdir(tmp_path) == []
    assert not [q for q in spark.streams.active
                if q.name == "__stream_lsh_sink"]


def test_streaming_lsh_rocksdb_state_store(spark, docs_two_batches, tmp_path):
    """State-scale evidence: the same stream/batch candidate parity (and
    the bucket saturation cap) hold under the RocksDB state store
    provider — the provider the dedup docstring prescribes for large
    keyspaces, where per-bucket id lists live off-heap instead of in
    executor memory. Skips when the bundled RocksDB JNI is unavailable."""
    import pytest

    from presto_ads_spark.llm import dedup as batch_dedup
    from presto_ads_spark.streaming import dedup as sdedup

    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        docs_schema = spark.read.parquet(docs_two_batches).schema
        stream = (
            spark.readStream.schema(docs_schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(docs_two_batches)
        )
        pairs = sdedup.streaming_lsh_candidates(stream, max_bucket=None)
        try:
            q = (
                pairs.writeStream.format("memory")
                .queryName("lsh_rocks")
                .outputMode("append")
                .option("checkpointLocation", str(tmp_path / "ckpt"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(300)
        except Exception as e:  # noqa: BLE001 — environment, not semantics
            if "RocksDB" in str(e) or "UnsatisfiedLink" in str(e):
                pytest.skip(f"RocksDB JNI unavailable: {e}")
            raise
        got = {
            (r.id_a, r.id_b) for r in spark.table("lsh_rocks").collect()
        }
        # exact stream/batch parity, same invariant as the default
        # provider test — the provider must not change the answer
        docs = spark.read.parquet(docs_two_batches)
        sig = batch_dedup.minhash_signatures_rowwise(docs)
        expected = {
            (r.id_a, r.id_b)
            for r in batch_dedup.lsh_candidate_pairs(sig, bands=4).collect()
        }
        assert got == expected and len(got) > 0

        # capped-bucket saturation under RocksDB: 40 identical docs, one
        # bucket per band; pair emission stops at C(cap, 2)
        d = tmp_path / "boiler"
        rows = [
            (i, "common legal footer text repeated verbatim")
            for i in range(40)
        ]
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.parquet(str(d))
        bschema = spark.read.parquet(str(d)).schema
        bstream = spark.readStream.schema(bschema).parquet(str(d))
        bpairs = sdedup.streaming_lsh_candidates(bstream, max_bucket=5)
        bq = (
            bpairs.writeStream.format("memory")
            .queryName("lsh_rocks_cap")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt_cap"))
            .trigger(availableNow=True)
            .start()
        )
        bq.awaitTermination(180)
        per_band = {}
        for r in spark.table("lsh_rocks_cap").collect():
            per_band[r.band] = per_band.get(r.band, 0) + 1
        assert per_band and all(n <= 10 for n in per_band.values())
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
