"""Connector-surface tests: format round-trips, partitioned writes, CTAS/
INSERT/views, memory + blackhole sinks (SURVEY.md §2.5)."""

from __future__ import annotations

import os
import threading

import pytest
from pyspark.sql import functions as F

from presto_ads_spark import sources
from presto_ads_spark.queries._util import t
from tests.conftest import SF_DIR


@pytest.mark.parametrize("fmt", ["parquet", "orc", "json", "csv"])
def test_roundtrip_formats(spark, tmp_path, fmt):
    df = t(spark, SF_DIR, "nation")
    path = str(tmp_path / f"nation_{fmt}")
    sources.write(df, fmt, path)
    back = sources.read(
        spark,
        fmt,
        path,
        schema="n_nationkey int, n_name string, n_regionkey int"
        if fmt in ("json", "csv")
        else None,
    )
    assert sorted(r.n_name for r in back.collect()) == sorted(
        r.n_name for r in df.collect()
    )


def test_partitioned_write_prunes(spark, tmp_path):
    df = t(spark, SF_DIR, "orders")
    path = str(tmp_path / "orders_part")
    sources.write(df, "parquet", path, partition_by=["o_orderstatus"])
    back = sources.read(spark, "parquet", path).filter(F.col("o_orderstatus") == "F")
    # partition pruning: only the o_orderstatus=F directory is read
    plan = back._sc._jvm.PythonSQLUtils.explainString(
        back._jdf.queryExecution(), "formatted"
    )
    assert "o_orderstatus=F" in plan or back.count() > 0


def test_bucketed_write_joins_without_shuffle(spark, tmp_path):
    df = t(spark, SF_DIR, "customer")
    spark.sql("DROP TABLE IF EXISTS cust_bucketed")
    sources.write(
        df,
        "parquet",
        str(tmp_path / "cust_bucketed"),
        bucket_by=(4, ["c_custkey"]),
        table="cust_bucketed",
    )
    assert spark.table("cust_bucketed").count() == df.count()
    spark.sql("DROP TABLE IF EXISTS cust_bucketed")


def test_ctas_insert_view(engine, spark, tmp_path):
    engine.sql("DROP TABLE IF EXISTS t_ctas")
    engine.sql(
        "CREATE TABLE t_ctas USING parquet AS SELECT r_regionkey, r_name FROM region"
    )
    assert engine.sql("SELECT count(*) AS n FROM t_ctas").collect()[0].n == 5
    engine.sql("INSERT INTO t_ctas VALUES (99, 'NOWHERE')")
    assert engine.sql("SELECT count(*) AS n FROM t_ctas").collect()[0].n == 6
    engine.sql("CREATE OR REPLACE TEMP VIEW v_regions AS SELECT r_name FROM t_ctas")
    assert engine.sql("SELECT count(*) AS n FROM v_regions").collect()[0].n == 6
    engine.sql("DROP VIEW v_regions")
    engine.sql("DROP TABLE t_ctas")


def test_memory_and_blackhole(spark):
    df = sources.memory_table(
        spark, "mem_t", [(1, "a"), (2, "b")], "id int, s string"
    )
    assert spark.sql("SELECT sum(id) AS s FROM mem_t").collect()[0].s == 3
    sources.blackhole(df)  # must execute without error


def test_unknown_format_rejected(spark):
    with pytest.raises(ValueError, match="unknown file format"):
        sources.read(spark, "xlsx", "/tmp/nope")


def test_delete_partitions(spark, tmp_path):
    df = t(spark, SF_DIR, "orders")
    path = str(tmp_path / "orders_del")
    sources.write(df, "parquet", path, partition_by=["o_orderstatus"])
    n = sources.delete_partitions(spark, path, o_orderstatus="F")
    assert n == 1
    left = {r.o_orderstatus for r in sources.read(spark, "parquet", path)
            .select("o_orderstatus").distinct().collect()}
    assert left == {"O", "P"}


def test_delete_where(spark, tmp_path):
    df = t(spark, SF_DIR, "nation")
    path = str(tmp_path / "nation_del")
    sources.write(df, "parquet", path)
    expected = df.filter("n_regionkey = 0").count()
    deleted = sources.delete_where(spark, path, "n_regionkey = 0")
    assert deleted == expected and deleted > 0
    back = sources.read(spark, "parquet", path)
    assert back.filter("n_regionkey = 0").count() == 0
    assert back.count() == df.count() - deleted


def test_delete_where_null_condition_keeps_rows(spark, tmp_path):
    # DELETE removes only rows where the condition is TRUE: rows where it
    # evaluates NULL (x IS NULL with 'x > 5') must be KEPT, not dropped.
    df = spark.createDataFrame(
        [(1, 10), (2, None), (3, 3)], "id int, x int"
    )
    path = str(tmp_path / "nulldel")
    sources.write(df, "parquet", path)
    deleted = sources.delete_where(spark, path, "x > 5")
    assert deleted == 1
    kept = {r.id for r in sources.read(spark, "parquet", path).collect()}
    assert kept == {2, 3}


def _delete_views(spark):
    return [v.name for v in spark.catalog.listTables()
            if v.name.startswith("__delete_target")]


def test_delete_where_swaps_without_leftovers(spark, tmp_path):
    df = t(spark, SF_DIR, "nation")
    path = str(tmp_path / "nation_swap")
    sources.write(df, "parquet", path)
    assert sources.delete_where(spark, path + "/", "n_regionkey < 2",
                                schema=df.schema) == 10
    assert sorted(os.listdir(tmp_path)) == ["nation_swap"]
    assert _delete_views(spark) == []
    assert sources.read(spark, "parquet", path).count() == 15


def test_delete_where_failure_keeps_table(spark, tmp_path):
    df = t(spark, SF_DIR, "nation")
    path = str(tmp_path / "nation_keep")
    sources.write(df, "parquet", path)
    with pytest.raises(Exception, match="no_such_column"):
        sources.delete_where(spark, path, "no_such_column = 1")
    assert sorted(os.listdir(tmp_path)) == ["nation_keep"]
    assert _delete_views(spark) == []
    assert sources.read(spark, "parquet", path).count() == 25


def test_delete_where_leaves_session_serializable(spark, tmp_path):
    # a session that has used an Observation cannot be Java-serialized any
    # more, which fails every task whose closure reaches it (LinearSVC
    # scoring through a model that holds its training summary)
    df = t(spark, SF_DIR, "nation")
    path = str(tmp_path / "nation_ser")
    sources.write(df, "parquet", path)
    assert sources.delete_where(spark, path, "n_regionkey = 3") == 5
    jvm = spark._jvm
    jvm.java.io.ObjectOutputStream(
        jvm.java.io.ByteArrayOutputStream()
    ).writeObject(spark._jsparkSession)


def test_delete_where_concurrent_paths(spark, tmp_path):
    df = t(spark, SF_DIR, "nation")
    paths = [str(tmp_path / f"nation_{i}") for i in range(2)]
    for path in paths:
        sources.write(df, "parquet", path)
    out, errors = {}, []

    def run(path, cond):
        try:
            out[path] = sources.delete_where(spark, path, cond)
        except Exception as e:  # surfaced below, not lost in the thread
            errors.append(e)

    threads = [threading.Thread(target=run, args=a) for a in
               zip(paths, ("n_regionkey = 0", "n_regionkey > 0"))]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=300)
    assert not any(th.is_alive() for th in threads)
    assert errors == []
    assert out == dict(zip(paths, (5, 20)))
    assert [sources.read(spark, "parquet", p).count() for p in paths] == [
        20, 5]
    assert sorted(os.listdir(tmp_path)) == ["nation_0", "nation_1"]


def test_decoders_json_csv_raw(spark):
    from presto_ads_spark.sources import decoders

    payloads = spark.createDataFrame(
        [(1, bytearray(b'{"a": 7, "b": "x"}')), (2, bytearray(b'{"a": 9, "b": "y"}'))],
        "offset int, value binary",
    )
    out = decoders.decode_json(payloads, "a int, b string").collect()
    assert {(r.offset, r.a, r.b) for r in out} == {(1, 7, "x"), (2, 9, "y")}

    csvp = spark.createDataFrame(
        [(1, bytearray(b"7,x")), (2, bytearray(b"9,y"))], "offset int, value binary"
    )
    out = decoders.decode_csv(csvp, "a int, b string").collect()
    assert {(r.offset, r.a, r.b) for r in out} == {(1, 7, "x"), (2, 9, "y")}

    raw = decoders.decode_raw(csvp).collect()
    assert {r.decoded for r in raw} == {"7,x", "9,y"}
