"""Sources/sinks — the connector surface (SURVEY.md §2.5).

Presto's connector SPI (reference: presto-spi/.../connector/Connector.java,
ConnectorPageSource.java:20) maps to Spark DataSource registrations:

| Presto connector | here |
|---|---|
| hive (parquet/orc/csv/json/text/avro — HiveStorageFormat.java:50-96) | ``read``/``write`` with fmt |
| base-jdbc (mysql/postgresql/…) | ``read_jdbc``/``write_jdbc`` |
| kafka (batch reads, KafkaRecordSet.java:53) | ``read_kafka`` (guarded: needs the kafka package on the cluster) |
| memory | ``memory_table`` (temp view over createDataFrame) |
| blackhole | ``blackhole`` (noop sink) |
| tpch generator | the driver's parquet testdata (catalog.py) |

Write-side scale notes: ``write`` exposes ``partition_by`` (directory
partitioning → partition pruning on read) and ``bucket_by`` (co-located
joins without a shuffle) because those are the two knobs that matter at
100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, DataFrameReader, SparkSession
from pyspark.sql.types import StructType

FILE_FORMATS = ("parquet", "orc", "json", "csv", "text", "avro")


def read(
    spark: SparkSession,
    fmt: str,
    path: str,
    schema: str | None = None,
    **options,
) -> DataFrame:
    if fmt not in FILE_FORMATS:
        raise ValueError(f"unknown file format {fmt!r}; use one of {FILE_FORMATS}")
    reader: DataFrameReader = spark.read.format(fmt)
    if schema:
        reader = reader.schema(schema)
    if fmt == "csv" and "header" not in options:
        options["header"] = "true"
    return reader.options(**options).load(path)


def write(
    df: DataFrame,
    fmt: str,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    bucket_by: tuple[int, list[str]] | None = None,
    table: str | None = None,
    **options,
) -> None:
    if fmt not in FILE_FORMATS:
        raise ValueError(f"unknown file format {fmt!r}; use one of {FILE_FORMATS}")
    writer = df.write.format(fmt).mode(mode)
    if fmt == "csv" and "header" not in options:
        options["header"] = "true"
    writer = writer.options(**options)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if bucket_by:
        n, cols = bucket_by
        if table is None:
            raise ValueError("bucketBy requires a table name (saveAsTable)")
        writer.option("path", path).bucketBy(n, *cols).sortBy(*cols).saveAsTable(table)
        return
    writer.save(path)


def read_jdbc(spark: SparkSession, url: str, table: str, **options) -> DataFrame:
    """JDBC source (Presto's mysql/postgresql/redshift/sqlserver connectors
    over presto-base-jdbc). Pushdown of filters/limits is handled by Spark's
    JDBC source; partition the read with (partitionColumn, lowerBound,
    upperBound, numPartitions) options for parallelism."""
    return spark.read.format("jdbc").option("url", url).option("dbtable", table).options(**options).load()


def write_jdbc(df: DataFrame, url: str, table: str, mode: str = "append", **options) -> None:
    df.write.format("jdbc").option("url", url).option("dbtable", table).options(**options).mode(mode).save()


def read_kafka(
    spark: SparkSession, bootstrap_servers: str, topic: str, streaming: bool = False, **options
) -> DataFrame:
    """Kafka source. The reference reads Kafka as a *static* table
    (KafkaRecordSet.java:53 iterates a fixed offset range); batch mode here
    matches that; streaming=True upgrades to Structured Streaming (beyond
    the reference's capability). Requires spark-sql-kafka on the cluster."""
    src = spark.readStream if streaming else spark.read
    return (
        src.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .options(**options)
        .load()
    )


def memory_table(spark: SparkSession, name: str, rows, schema) -> DataFrame:
    """Presto memory connector equivalent: materialized temp view."""
    df = spark.createDataFrame(rows, schema)
    df.createOrReplaceTempView(name)
    return df


def blackhole(df: DataFrame) -> None:
    """Presto blackhole connector: execute fully, discard output."""
    df.write.format("noop").mode("overwrite").save()


def delete_partitions(spark: SparkSession, path: str, **partition_values) -> int:
    """Partition-drop DELETE — the flavor Presto 0.216's hive connector
    actually supports (MetadataDeleteOperator, reference
    operator/MetadataDeleteOperator.java:34): removing whole partition
    directories, no row rewrite. Returns partitions removed."""
    import shutil
    import os

    removed = 0
    for k, v in partition_values.items():
        target = os.path.join(path, f"{k}={v}")
        if os.path.isdir(target):
            shutil.rmtree(target)
            removed += 1
    return removed


def delete_where(spark: SparkSession, path: str, condition: str,
                 fmt: str = "parquet", schema: StructType | None = None) -> int:
    """Row-level DELETE via staged rewrite (DeleteOperator analogue,
    reference operator/DeleteOperator.java:39 — there it needs connector
    support; on plain files it's rewrite-and-swap). Returns rows deleted.

    One Spark job: the write of the kept rows to a staging directory. Two
    observations on that job count the rows read and the rows kept, so the
    count comes from the write, as TableFinishOperator takes it from the
    writers, not from rescans. Pass the table's ``schema`` to skip the
    schema-inference job of the read.

    The swap renames ``path`` aside, renames the staging directory into
    its place, then removes the old data: a crash leaves the old table or
    the new one at ``path``, and at worst a stray ``.__staging_*`` or
    ``.__old_*`` directory beside it. The DELETE runs in a clone of
    ``spark``, and the temp view and both directories are named per call,
    so concurrent DELETEs on different paths share nothing. At 100 TB you'd do this per-partition (combine with partition
    pruning on ``condition``) or use a table format (Delta/Iceberg) — this
    is the dependency-free form."""
    import os
    import shutil
    import uuid

    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    # Observations register with their DataFrame's session, and a session
    # that has used one can no longer be serialized (Spark 4.1's
    # SparkSession.observationManager is not transient): every task whose
    # closure reaches the session, such as a LinearSVC model holding its
    # training summary, would then fail. A clone (same catalog, temp
    # views, functions and conf) runs the DELETE instead.
    session = SparkSession(
        spark.sparkContext, spark._jsparkSession.cloneSession()
    )
    tag = uuid.uuid4().hex
    view = f"__delete_target_{tag}"
    path = path.rstrip("/")
    staging = f"{path}.__staging_{tag}"
    old = f"{path}.__old_{tag}"
    reader = session.read.format(fmt)
    if schema is not None:
        reader = reader.schema(schema)
    source = reader.load(path)
    read, kept = Observation(), Observation()
    # DELETE removes only rows where the condition is TRUE (Presto/SQL
    # semantics): NULL-condition rows must be KEPT, so the keep-filter is
    # NOT coalesce(cond, false), not a bare NOT(cond). Routed through
    # spark.sql over a temp view so the condition may contain subqueries
    # (DELETE ... WHERE k IN (SELECT ...)) — DataFrame.filter can't.
    # count(1) via F.expr: a Column method here would load IPython into
    # the driver (see Engine._local_row)
    source.observe(read, F.expr("count(1)")).createOrReplaceTempView(view)
    try:
        rest = session.sql(
            f"SELECT * FROM {view} WHERE NOT coalesce(({condition}), false)"
        )
        rest.observe(kept, F.expr("count(1)")).write.format(fmt).save(staging)
        n_read = _observed_count(read)
        if n_read is None:
            n_read = source.count()
        # at the root of the written plan, so never pruned
        n_kept = _observed_count(kept)
    except BaseException:
        shutil.rmtree(staging, ignore_errors=True)
        raise
    finally:
        session.catalog.dropTempView(view)
    os.rename(path, old)
    os.rename(staging, path)
    shutil.rmtree(old)
    return n_read - n_kept


def _observed_count(observation) -> int | None:
    """The count an observation took, or None when its row is empty: the
    optimizer dropped the observed node (a keep filter that folds to false
    prunes the scan under it: DELETE without WHERE)."""
    row = observation._jo.getRow()
    return row.getLong(0) if row.length() else None
