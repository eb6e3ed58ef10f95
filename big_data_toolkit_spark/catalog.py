"""Table catalog: register the TESTDATA parquet tables as named views.

The reference has no catalog — every program re-parses raw text positionally
(``a6/Q1.scala:48-52`` splits on ``|`` and indexes ``tokens(10)``) or reads
parquet only to immediately drop to ``Row`` RDDs (``a6/Q1.scala:58-62``,
defeating column pruning). Here tables are registered once as temp views with
their self-describing parquet schemas, so every operator can be written either
as DataFrame code or ``spark.sql`` — which is also what lets the DuckDB oracle
run the identical statement.

Like a metastore, the catalog serves each table's schema from metadata
instead of rediscovering it on every query. ``spark.read.parquet`` infers the
schema with a Spark job that reads the parquet footers; ``load_table`` runs
that inference once per file fingerprint (path, and each file's name, inode,
size and mtime) and session inference settings, then reads with the cached
schema, so a repeat read of an unchanged table plans with no Spark job. This
is the schema analogue of ``table_row_count``'s footer statistics.

Scale note: ``spark.read.parquet`` on a directory of files partitions by
row-group/128 MB splits automatically; at 100 TB the same call distributes the
scan across the cluster, and filters/projections written against these views
reach the parquet reader (PushedFilters / ReadSchema in ``.explain``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


# Session confs that change what parquet schema inference returns; their
# values are part of the schema cache key.
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)

# (abs path, inference conf values) -> (file fingerprint, inferred schema).
# One entry per table path and settings, replaced when the files change.
# Two threads loading one table at once may both infer; either result is
# the same schema.
_SCHEMAS: dict[tuple, tuple[list, StructType]] = {}


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _table_files(path: str) -> list[str]:
    """The parquet files of one table: the path itself, or every
    ``*.parquet`` under it when it is a directory."""
    if not os.path.isdir(path):
        return [path]
    return sorted(
        os.path.join(root, f)
        for root, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    )


def table_row_count(sf_dir: str, name: str) -> int:
    """Row count from the parquet FOOTERS, driver-side — no Spark job.

    The statistics lookup a table catalog (metastore/Delta/Iceberg)
    serves for free at cluster scale: parquet stores num_rows per file
    footer, so the count costs one metadata read per file regardless of
    table bytes. Used where an operator needs only a sizing bound (e.g.
    the Bloom bitmap's m), where launching even a no-column count job
    would dominate the operator's own work."""
    import pyarrow.parquet as pq

    files = _table_files(table_path(sf_dir, name))
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, inferring the schema only when the
    files or the session's inference confs changed since the last read.

    Schema inference is Spark's own (a footer-reading job); later reads
    pass the cached schema, which skips that job. A file rewritten in place
    changes its inode, size or mtime, so it is inferred again."""
    try:
        fingerprint = []
        for f in _table_files(path):
            st = os.stat(f)
            fingerprint.append((f, st.st_ino, st.st_size, st.st_mtime_ns))
    except OSError:
        # not a local path: nothing to fingerprint, and a missing table
        # keeps Spark's own PATH_NOT_FOUND error
        return spark.read.parquet(path)
    key = (
        os.path.abspath(path),
        tuple(spark.conf.get(c, None) for c in _SCHEMA_CONFS),
    )
    cached = _SCHEMAS.get(key)
    if cached is not None and cached[0] == fingerprint:
        return spark.read.schema(cached[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = (fingerprint, df.schema)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one TESTDATA table as a DataFrame.

    The schema is inferred once per file fingerprint and inference confs
    (``_read_parquet``); a repeat load of an unchanged table starts no
    Spark job, the metastore analogue of ``table_row_count``'s footer
    statistics.

    ``events.ts`` has been written by different fixture generations as either
    parquet TIMESTAMP(NANOS) — which Spark's vectorized reader rejects unless
    read via the legacy nanos-as-long escape hatch — or plain
    TIMESTAMP(MICROS).  The loader is schema-adaptive: it enables the escape
    hatch (a no-op for non-nanos files), reads, and then converts only if the
    column actually arrived as a raw nanosecond ``bigint``.  Either way the
    result is normalized to a session-TZ (UTC) TIMESTAMP so every downstream
    plan sees one stable type, matching DuckDB's micro-precision reads of the
    same files exactly.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    if name == "events":
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        # The NTZ->timestamp cast below is only value-preserving under a UTC
        # session TZ; a reused driver session carrying any other TZ would
        # silently shift every ts value. build_spark pins UTC at session
        # construction — require it here and fail loud (same convention as
        # the unknown-ts-type branch) rather than mutating shared session
        # state from inside a table reader.
        tz = spark.conf.get("spark.sql.session.timeZone", "")
        if tz not in ("UTC", "Etc/UTC", "GMT", "Z", "+00:00"):
            raise RuntimeError(
                f"loading events requires a UTC session timezone, got {tz!r}; "
                "pin spark.sql.session.timeZone=UTC at session construction "
                "(big_data_toolkit_spark.session.build_spark does)"
            )
        # Scope the legacy nanos escape hatch to this read: a later parquet
        # read of a nanos column elsewhere should fail fast, not silently
        # yield raw longs.
        prior = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        try:
            df = _read_parquet(spark, table_path(sf_dir, name))
            ts_type = df.schema["ts"].dataType
            if isinstance(ts_type, T.LongType):
                # nanos fixture: integer `div` — double division would lose
                # precision above 2^53 ns
                df = df.withColumn(
                    "ts", F.timestamp_micros(F.expr("ts div 1000"))
                )
            elif isinstance(ts_type, T.TimestampNTZType):
                # micros fixture reads as TIMESTAMP_NTZ; value-identical
                # cast under the pinned UTC session TZ, keeps one type
                # across generations
                df = df.withColumn("ts", F.col("ts").cast("timestamp"))
            elif not isinstance(ts_type, T.TimestampType):
                # anything else (string, double, ...) is a new fixture
                # generation we haven't audited — fail loud, never cast
                # blindly to silent nulls
                raise TypeError(
                    f"events.ts arrived as unexpected type {ts_type}; "
                    "audit the fixture before adding a conversion"
                )
            # force schema resolution before the conf is restored: the
            # parquet footer is read at plan time, not collect time
            df.schema
            return df
        finally:
            if prior is None:
                spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
            else:
                spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prior)
    return _read_parquet(spark, table_path(sf_dir, name))


def local_table(spark: SparkSession, rows: list, ddl: str) -> DataFrame:
    """JVM-resident local table from driver rows (Arrow ``LocalTableScan``).

    ``createDataFrame`` over plain Python rows plans a Python-RDD scan
    that spins Python workers on EVERY plan execution (~0.4 s per scan on
    local[32] — measured; a broadcast side built this way pays it once
    per job that references it). Routing the same rows through
    pandas + Arrow yields a ``LocalTableScan`` the JVM serves directly —
    no Python at execution time, same values and schema. Use this for
    every small driver-built side table (quotas, weights, seed lists,
    summary outputs).

    ``ddl`` is the usual DDL schema string ("source string, quota long");
    column names are parsed from it to label the pandas frame so the
    schema maps by name, not position. Empty ``rows`` falls back to the
    plain path (pandas can't carry a zero-row typed frame through Arrow
    without per-type dtype mapping) — an empty local relation has no
    per-scan cost anyway.
    """
    if not rows:
        return spark.createDataFrame([], ddl)
    import pandas as pd

    names = [c.strip().split()[0] for c in ddl.split(",")]
    pdf = pd.DataFrame(list(rows), columns=names)
    return spark.createDataFrame(pdf, schema=ddl)


def register_tables(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """Register each table as a temp view; returns name -> DataFrame."""
    out: dict[str, DataFrame] = {}
    for name in tables:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
