"""Catalog: register the driver's parquet tables as temp views.

Presto models this as connector-declared schemas (ConnectorMetadata,
reference: presto-spi/.../connector/ConnectorMetadata.java); the Spark
equivalent is the session catalog + temp views (SURVEY.md §1.3).

Table schemas are cached per process, as the Hive connector caches
metastore metadata (presto-hive/.../metastore/CachingHiveMetastore.java):
``spark.read.parquet(path)`` without a schema runs a Spark job to infer
it, on every call, for a file that has not changed.
"""

from __future__ import annotations

import hashlib
import os
import threading
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Session settings that change what parquet schema inference returns
# (nanosAsLong reads events.ts as bigint, binaryAsString, int96 handling,
# case sensitivity of field names, ...).
_INFERENCE_CONF_PREFIXES = (
    "spark.sql.parquet.",
    "spark.sql.legacy.parquet.",
    "spark.sql.caseSensitive",
)
_SCHEMA_CACHE_SIZE = 256
_schemas: OrderedDict[tuple, StructType] = OrderedDict()
_schemas_lock = threading.Lock()


def _footer_digest(path: str) -> bytes | None:
    """Digest of a parquet file's trailing ``footer_len + 8`` bytes (file
    metadata, its length, the magic), where the schema lives; None for
    anything that is not a local parquet file."""
    try:
        with open(path, "rb") as f:
            size = f.seek(0, os.SEEK_END)
            if size < 12:
                return None
            f.seek(size - 8)
            tail = f.read(8)
            footer_len = int.from_bytes(tail[:4], "little")
            if tail[4:] != b"PAR1" or footer_len + 12 > size:
                return None
            f.seek(size - 8 - footer_len)
            return hashlib.sha256(f.read(footer_len + 8)).digest()
    except OSError:
        return None


def _inference_conf(spark: SparkSession) -> tuple[tuple[str, str], ...]:
    """The set session settings under ``_INFERENCE_CONF_PREFIXES``.

    One py4j call: Scala 2.13 renders a map's entries as ``k -> v``
    (``spark.conf.getAll`` converts entry by entry, ~45 ms)."""
    dump = spark._jsparkSession.conf().getAll().mkString("\n")
    found = []
    for line in dump.split("\n"):
        key, sep, value = line.partition(" -> ")
        if sep and key.startswith(_INFERENCE_CONF_PREFIXES):
            found.append((key, value))
    return tuple(sorted(found))


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, inferring a local file's schema once
    per (path, footer, inference settings) and passing it in afterwards,
    which reads without a Spark job. Directories and non-local paths are
    read as they are."""
    digest = _footer_digest(path) if os.path.isfile(path) else None
    if digest is None:
        return spark.read.parquet(path)
    key = (path, digest, _inference_conf(spark))
    with _schemas_lock:
        schema = _schemas.get(key)
        if schema is not None:
            _schemas.move_to_end(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    with _schemas_lock:
        _schemas[key] = df.schema
        if len(_schemas) > _SCHEMA_CACHE_SIZE:
            _schemas.popitem(last=False)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """A new DataFrame over ``<sf_dir>/<name>.parquet`` on every call (new
    expression ids, so self-joins resolve); only the schema is cached."""
    df = _read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # TIMESTAMP(NANOS) read as long (nanosAsLong) → truncate to µs,
        # identical to DuckDB's read of the same file.
        from pyspark.sql import functions as F

        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view named after the table.

    Idempotent. The first call in a process infers each table's schema
    (one Spark job per table); later calls read the cached schemas and
    start no job (Spark scans lazily)."""
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            load_table(spark, sf_dir, name).createOrReplaceTempView(name)
