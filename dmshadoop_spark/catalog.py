"""Testdata catalog: load the driver-generated parquet tables.

Tables (TESTDATA.md): region nation customer supplier part orders lineitem
events documents embeddings — one parquet file per table under an sf dir.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType, TimestampNTZType, TimestampType

from dmshadoop_spark.functions.checkpoint import _parse_bytes

TABLES = (
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

DEFAULT_SF_DIR = "/root/testdata/sf0.001"

# The session confs that change what Spark infers from a parquet footer.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)
# (path, st_size, st_mtime_ns, inference confs) -> the schema Spark
# inferred; one dict get or set is atomic, so threads need no lock
_SCHEMAS: dict[tuple, StructType] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table. Plain parquet scan → Catalyst gets full
    pushdown/pruning; nothing is cached or collected here.

    Timestamp normalization: every timestamp column is surfaced as
    TIMESTAMP_NTZ (naive UTC wall time) so results compare bit-for-bit with
    the DuckDB oracle regardless of host time zone. Older testdata stores
    events.ts as parquet TIMESTAMP(NANOS), which Spark's reader rejects
    outright — for such a file we set the designed escape hatch
    (``spark.sql.legacy.parquet.nanosAsLong``) on the session, where it
    stays set, and rebuild the timestamp at microsecond precision
    (exactly what DuckDB's reader keeps). The file's footer, read with
    pyarrow (no Spark job), tells which: an events file whose ts is
    TIMESTAMP(µs) leaves the session conf as it was. A path that is not a
    local file sets the conf too, and Spark reads it or reports its own
    error.

    The schema Spark infers is remembered per file (``_read_parquet``), so
    only the first load of a file starts the inference job."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        # a path that is no local file (a URI, a directory, a missing
        # file) keeps the escape hatch and is left to Spark to read
        ts = pq.read_schema(path).field("ts").type if os.path.isfile(path) else None
        if ts is None or pa.types.is_timestamp(ts) and ts.unit == "ns":
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = _read_parquet(spark, path)
        # Testdata vintages differ: TIMESTAMP(NANOS) parquet surfaces as
        # BIGINT nanos under nanosAsLong (older driver runs), TIMESTAMP(µs)
        # reads as a timestamp directly (current runs). Normalize both to
        # TIMESTAMP_NTZ µs — exactly what DuckDB's reader keeps.
        from pyspark.sql.types import LongType

        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, LongType):
            # ns → µs with integer division (values exceed double precision),
            # then reinterpret as naive-UTC timestamp.
            # Pure NTZ arithmetic from the epoch — no session-zone dependence
            # (timestamp_micros().cast(ntz) would shift by the session zone).
            df = df.withColumn(
                "ts",
                F.expr(
                    "timestampadd(MICROSECOND, ts div 1000,"
                    " TIMESTAMP_NTZ '1970-01-01 00:00:00')"
                ),
            )
        elif isinstance(ts_type, TimestampType):
            df = df.withColumn("ts", F.col("ts").cast(TimestampNTZType()))
        return df
    df = _read_parquet(spark, path)
    for field in df.schema.fields:
        if isinstance(field.dataType, TimestampType):
            df = df.withColumn(field.name, F.col(field.name).cast(TimestampNTZType()))
    return df


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without the schema-inference job when
    this file, unchanged (size and mtime), was already read under the same
    inference confs: the remembered schema is passed to the reader."""
    try:
        st = os.stat(path)
    except OSError:
        # not a local file (a URI, or missing): Spark reads it and reports
        # its own error
        return spark.read.parquet(path)
    key = (os.path.abspath(path), st.st_size, st.st_mtime_ns,
           tuple(spark.conf.get(c) for c in _INFERENCE_CONFS))
    schema = _SCHEMAS.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = df.schema
    return df


def widen(df: DataFrame) -> DataFrame:
    """Round-robin repartition a *narrow* small-scan DataFrame to cluster
    width before a CPU-bound expression stage (shingling, hashing,
    signature folds).

    The driver testdata is one single-row-group parquet file per table, so
    the scan yields one partition and every narrow expression would run on
    one core. On a real cluster the scan of a 100 TB table already yields
    thousands of splits and this is a no-op (partitions >= parallelism), so
    the extra shuffle of raw text exists only in the degenerate small-file
    case where it costs nothing.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    splits = _estimated_scan_splits(df)
    if splits is not None and splits < target:
        return df.repartition(target)
    return df


def _estimated_scan_splits(df: DataFrame) -> int | None:
    """Estimate how many scan partitions ``df``'s file sources will yield,
    WITHOUT building a physical plan or an RDD (``df.rdd`` forces both —
    one full extra analysis/planning pass per widened query at build time).

    ``inputFiles()`` only walks the analyzed plan's leaves. Split count per
    file = ceil(size / maxPartitionBytes) for stat-able local files; remote
    files (hdfs://, s3a://) count as one split each, which is the
    scale-conservative choice: a 100 TB table has thousands of files, the
    estimate clears ``defaultParallelism`` and widen() stays a no-op.
    Returns None if the source exposes no files (e.g. in-memory relation).
    """
    import math
    import os
    from urllib.parse import urlparse

    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    max_bytes = _parse_bytes(
        str(df.sparkSession.conf.get("spark.sql.files.maxPartitionBytes", "134217728b"))
    )
    splits = 0
    for f in files:
        parsed = urlparse(f)
        local = parsed.scheme in ("", "file")
        path = parsed.path if parsed.scheme else f
        if local and os.path.exists(path):
            splits += max(1, math.ceil(os.path.getsize(path) / max_bytes))
        else:
            splits += 1
    return splits
