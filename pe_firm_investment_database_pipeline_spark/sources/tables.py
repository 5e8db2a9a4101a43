"""Typed parquet scans over the driver's star schema (repo:TESTDATA.md).

SURVEY.md §2.1 ``src_parquet_scan``. Schemas are declared in
repo:FIXTURES.md §B; we rely on parquet's self-describing footer (no
inference pass) and let Catalyst push filters/projections into the
scan. On a cluster these would be partitioned/bucketed tables; the
query plans only depend on logical schema, so swapping in a
``spark.read.table`` of a bucketed catalog table is a one-line change.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

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

# Dimension tables small enough to broadcast at any realistic scale
# (region=5, nation=25 rows are fixed-cardinality in TPC-H-like schemas).
BROADCAST_DIMS = ("region", "nation")


# Fixed-cardinality dims stay unspread: they broadcast anyway, and an
# exchange under a BroadcastExchange is pure overhead.
_NO_SPREAD = {"region", "nation"}


def _spread(spark: SparkSession, df: DataFrame, path: str) -> DataFrame:
    """Parallelism floor for under-split inputs. The driver's testdata
    is one single-row-group parquet file per table, which Spark can
    only scan as ONE task — every downstream map-side stage (regexp,
    shingling, scoring) would run on one core of 32. A round-robin
    repartition keeps the scan cheap and moves compute downstream onto
    all cores (measured 9.5s → <1s for the shingle explode at sf0.1).
    On a real cluster with 128 MB-sized files ``est_parts`` already
    exceeds the core count and this is a no-op."""
    try:
        size = os.path.getsize(path)
    except OSError:
        return df
    max_bytes = 128 * 1024 * 1024
    est_parts = max(1, size // max_bytes)
    target = spark.sparkContext.defaultParallelism
    if est_parts < target:
        return df.repartition(target)
    return df


def load_table(
    spark: SparkSession, sf_dir: str, name: str, spread: bool = True
) -> DataFrame:
    """``spread=False`` opts out of the parallelism floor for plans
    whose only map work is a cheap narrow projection (e.g. a digest):
    there the round-robin exchange would shuffle the FULL payload
    column just to parallelize work the single scan task finishes
    faster than the shuffle costs. At real scale ``_spread`` is a
    no-op either way, so the flag only affects under-split inputs."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    if name == "events":
        return _load_events(spark, sf_dir, spread)
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.parquet(path)
    if not spread or name in _NO_SPREAD:
        return df
    return _spread(spark, df, path)


def _read_events_raw(spark: SparkSession, path: str) -> DataFrame:
    """Read events.parquet, handling a TIMESTAMP(NANOS) footer (Spark 4
    has no native nanos type; the legacy conf scans it as int64). The
    footer type is inspected DIRECTLY (pyarrow) instead of inferring
    from an exception class, and the legacy conf is SCOPED to this
    read — save/set/restore — so it never leaks into how other nanos
    parquet columns in the session are scanned. (The conf is consulted
    at schema-resolution time only; later actions on the returned
    frame execute correctly after the restore.)"""
    from pyspark.sql.utils import AnalysisException

    nanos = False
    try:
        import pyarrow.parquet as papq

        nanos = str(papq.read_schema(path).field("ts").type) == "timestamp[ns]"
    except Exception:  # missing field / unreadable footer: let Spark decide
        nanos = False
    if not nanos:
        try:
            return spark.read.parquet(path)
        except AnalysisException:
            # footer shape pyarrow didn't flag but Spark rejects —
            # last resort: try the legacy nanos path below
            pass
    conf = "spark.sql.legacy.parquet.nanosAsLong"
    prev = spark.conf.get(conf, None)
    spark.conf.set(conf, "true")
    try:
        return spark.read.parquet(path)
    finally:
        if prev is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, prev)


def _load_events(spark: SparkSession, sf_dir: str, spread: bool) -> DataFrame:
    """Load events with a normalized, timezone-free time axis. The
    fixture's ``ts`` physical type has varied across testdata
    generations (parquet TIMESTAMP(NANOS) read as int64 via
    spark.sql.legacy.parquet.nanosAsLong; currently TIMESTAMP(MICROS),
    which Spark scans as TIMESTAMP_NTZ), so branch on the *scanned*
    dtype instead of assuming one. Every derivation is independent of
    the session timezone (the driver's session may not be UTC) and
    matches DuckDB's ``epoch_us(ts::TIMESTAMP)`` on the oracle side:

    - ``ts_ns``  int64 nanoseconds since epoch (exact: µs * 1000 when
                 the source is µs-precision)
    - ``ts_us``  int64 microseconds since epoch
    - ``ts_date`` DateType (tz-free calendar day of the naive value)
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    path = f"{sf_dir}/events.parquet"
    raw = _read_events_raw(spark, path)
    ts_type = raw.schema["ts"].dataType

    df = _spread(spark, raw, path) if spread else raw
    if isinstance(ts_type, T.LongType):
        # nanosAsLong path: ts is already int64 epoch nanos. Integer
        # division end-to-end — int64 nanos exceed double precision, so
        # float division would corrupt the low bits.
        return (
            df.withColumnRenamed("ts", "ts_ns")
            .withColumn("ts_us", F.expr("ts_ns div 1000"))
            .withColumn(
                "ts_date",
                F.date_from_unix_date(F.expr("ts_ns div 86400000000000").cast("int")),
            )
        )
    if isinstance(ts_type, T.TimestampNTZType):
        # Naive timestamp: epoch micros of the naive value on a fixed
        # UTC timeline, built from CALENDAR COMPONENTS (date, hour,
        # minute, second-with-fraction). Component extraction on NTZ
        # is pure calendar arithmetic; crucially, timestampdiff is
        # NOT — Spark coerces NTZ operands to session-zone instants,
        # and the epoch literal cancels the event's zone offset only
        # when both share the same UTC offset (breaks across DST, or
        # in any zone whose standard offset changed since 1970).
        ts_us = F.expr(
            "CAST(unix_date(CAST(ts AS DATE)) AS BIGINT) * 86400000000"
            " + CAST(extract(HOUR FROM ts) AS BIGINT) * 3600000000"
            " + CAST(extract(MINUTE FROM ts) AS BIGINT) * 60000000"
            " + CAST(extract(SECOND FROM ts) * 1000000 AS BIGINT)"
        )
    elif isinstance(ts_type, T.TimestampType):
        # Instant-semantics timestamp: unix_micros is tz-independent by
        # definition (the stored value is already an instant).
        ts_us = F.unix_micros(F.col("ts"))
    else:  # pragma: no cover - future fixture drift fails loudly
        raise TypeError(f"unsupported events.ts dtype: {ts_type}")
    return (
        df.withColumn("ts_us", ts_us)
        .withColumn("ts_ns", F.expr("ts_us * 1000"))
        .withColumn(
            "ts_date",
            F.date_from_unix_date(F.expr("ts_us div 86400000000").cast("int")),
        )
        .drop("ts")
    )


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str, prefix: str = "") -> None:
    """Register every table as a temp view (for the SQL-expressed plans)."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(prefix + name)
