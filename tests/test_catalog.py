"""Catalog: parquet schemas are inferred once per file and settings, then
passed in, so a repeated read of an unchanged file starts no Spark job."""

from __future__ import annotations

import datetime as dt
import os
import sys
import threading

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from presto_ads_spark import catalog
from tests.conftest import SF_DIR, jobs_during

NANOS = "spark.sql.legacy.parquet.nanosAsLong"


def _load(spark, sf_dir, name):
    out = {}
    jobs = jobs_during(
        spark, lambda: out.update(df=catalog.load_table(spark, sf_dir, name))
    )
    return out["df"], jobs


def test_second_load_starts_no_spark_job(spark, tmp_path):
    pq.write_table(pa.table({"a": [1, 2, 3]}), tmp_path / "t.parquet")
    first, jobs_first = _load(spark, str(tmp_path), "t")
    second, jobs_second = _load(spark, str(tmp_path), "t")
    assert (jobs_first, jobs_second) == (1, 0)
    assert second.schema == first.schema
    assert sorted(second.collect()) == sorted(first.collect())


@pytest.mark.parametrize("name", catalog.TABLES)
def test_cached_schema_equals_inferred(spark, name):
    path = os.path.join(SF_DIR, f"{name}.parquet")
    catalog.load_table(spark, SF_DIR, name)
    cached, jobs = _load(spark, SF_DIR, name)
    assert jobs == 0
    inferred = spark.read.parquet(path)
    assert cached.schema == inferred.schema
    assert cached.dtypes == inferred.dtypes
    if name in ("nation", "events"):
        assert sorted(cached.collect()) == sorted(inferred.collect())


def test_loads_are_new_dataframes(spark):
    # the DataFrame is not cached: two loads self-join without ambiguity
    a = catalog.load_table(spark, SF_DIR, "nation")
    b = catalog.load_table(spark, SF_DIR, "nation")
    assert a is not b
    joined = a.join(b, a.n_nationkey == b.n_regionkey)
    assert joined.count() == 25  # five nations in each of five regions


def test_file_rewritten_in_place_is_reinferred(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": [1, 2, 3]}), path)
    st = os.stat(path)
    assert catalog.load_table(spark, str(tmp_path), "t").columns == ["a"]
    # same size and mtime, another column name: only the footer differs
    pq.write_table(pa.table({"b": [1, 2, 3]}), path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns))
    assert os.stat(path).st_size == st.st_size
    assert os.stat(path).st_mtime_ns == st.st_mtime_ns
    df, jobs = _load(spark, str(tmp_path), "t")
    assert jobs == 1
    assert df.columns == ["b"]
    assert sorted(r.b for r in df.collect()) == [1, 2, 3]
    pq.write_table(pa.table({"b": ["x"], "c": [1.5]}), path)
    df = catalog.load_table(spark, str(tmp_path), "t")
    assert df.dtypes == [("b", "string"), ("c", "double")]


def test_nanos_as_long_flip_reinfers(spark):
    catalog.load_table(spark, SF_DIR, "events")
    was = spark.conf.get(NANOS)
    flipped = "false" if was == "true" else "true"
    try:
        spark.conf.set(NANOS, flipped)
        _, jobs = _load(spark, SF_DIR, "events")
        assert jobs == 1
        _, jobs = _load(spark, SF_DIR, "events")
        assert jobs == 0
    finally:
        spark.conf.set(NANOS, was)
    _, jobs = _load(spark, SF_DIR, "events")
    assert jobs == 0


def test_nanos_events_read_through_cached_schema(spark, tmp_path):
    # TIMESTAMP(NANOS) events: nanosAsLong reads ts as bigint and
    # load_table truncates it to µs, with the cached schema as without
    ts = [dt.datetime(2024, 1, 1, 12, 0, 0, 123456), None]
    pq.write_table(
        pa.table({
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array(ts, pa.timestamp("ns")),
        }),
        tmp_path / "events.parquet",
    )
    was = spark.conf.get(NANOS)
    try:
        spark.conf.set(NANOS, "true")
        first, _ = _load(spark, str(tmp_path), "events")
        second, jobs = _load(spark, str(tmp_path), "events")
    finally:
        spark.conf.set(NANOS, was)
    assert jobs == 0
    assert dict(second.dtypes)["ts"] == "timestamp"
    assert sorted(second.collect(), key=lambda r: r.event_id) == sorted(
        first.collect(), key=lambda r: r.event_id
    )
    want_us = pa.array(ts[:1], pa.timestamp("ns")).cast(pa.int64())[0].as_py() // 1000
    got = second.selectExpr("event_id", "unix_micros(ts) AS us").collect()
    assert sorted(got) == [(1, want_us), (2, None)]


def test_missing_path_raises(spark, tmp_path):
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        catalog.load_table(spark, str(tmp_path), "absent")


def test_directories_are_not_cached(spark, tmp_path):
    d = tmp_path / "d.parquet"
    spark.range(3).write.parquet(str(d))
    assert catalog._footer_digest(str(d)) is None
    (tmp_path / "x.parquet").write_bytes(b"not parquet at all")
    assert catalog._footer_digest(str(tmp_path / "x.parquet")) is None
    _, jobs = _load(spark, str(tmp_path), "d")
    assert jobs == 1
    _, jobs = _load(spark, str(tmp_path), "d")
    assert jobs == 1


def test_cache_is_bounded(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(catalog, "_SCHEMA_CACHE_SIZE", 2)
    monkeypatch.setattr(catalog, "_schemas", type(catalog._schemas)())
    for i in range(3):
        pq.write_table(pa.table({f"c{i}": [i]}), tmp_path / f"t{i}.parquet")
        catalog.load_table(spark, str(tmp_path), f"t{i}")
    assert [k[0] for k in catalog._schemas] == [
        str(tmp_path / "t1.parquet"), str(tmp_path / "t2.parquet")
    ]
    _, jobs = _load(spark, str(tmp_path), "t0")
    assert jobs == 1


def test_concurrent_loads_keep_the_cache_bounded_and_right(
    spark, tmp_path, monkeypatch
):
    # eight threads (more than cores) hit, miss and evict at once
    monkeypatch.setattr(catalog, "_SCHEMA_CACHE_SIZE", 2)
    monkeypatch.setattr(catalog, "_schemas", type(catalog._schemas)())
    for i in range(3):
        pq.write_table(pa.table({f"c{i}": [i]}), tmp_path / f"t{i}.parquet")
    errors: list = []

    def worker(k):
        try:
            for j in range(6):
                i = (k + j) % 3
                df = catalog.load_table(spark, str(tmp_path), f"t{i}")
                assert df.columns == [f"c{i}"]
                assert len(catalog._schemas) <= 2
        except Exception as e:  # noqa: BLE001 — reported by the assert below
            errors.append(e)

    was = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=worker, args=(k,)) for k in range(8)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=300)
    finally:
        sys.setswitchinterval(was)
    assert not any(th.is_alive() for th in threads)
    assert errors == []
    assert len(catalog._schemas) <= 2
