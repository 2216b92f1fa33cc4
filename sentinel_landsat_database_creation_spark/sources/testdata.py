"""Loaders for the driver-generated synthetic tables (TESTDATA.md).

Parquet scans stay lazy; Catalyst prunes columns and pushes filters into
the scan, so loading "all tables" costs nothing until an action runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # Defensive for driver-owned sessions built without our factory:
    # timestamp semantics (date truncation, week binning, literal
    # comparisons) must be UTC for every table, and events' nanos-typed
    # parquet must scan. Both confs are runtime-mutable.
    try:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        if name == "events":
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        # events.parquet's ts physical type has varied across testdata
        # generations: INT64 TIMESTAMP(NANOS) (which the vectorized
        # reader rejects -> read nanos as long, truncate to micros) or
        # plain TIMESTAMP micros without timezone (-> TIMESTAMP_NTZ,
        # which unix_micros/window functions reject). Normalize both to
        # session-UTC TIMESTAMP so every downstream operator — and the
        # DuckDB oracle's naive reading of the same file — sees the same
        # instants.
        df = normalize_event_ts(df)
    return df


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize events.ts to a session-UTC TIMESTAMP regardless of the
    testdata generation's physical type: INT64 TIMESTAMP(NANOS) arrives
    as bigint under nanosAsLong (truncate to micros), plain micros
    without timezone arrives as TIMESTAMP_NTZ (cast keeps the wall-clock
    digits under the UTC session — the same absolute instant DuckDB's
    naive reader sees). Streaming sources that must readStream the raw
    file share this too."""
    from pyspark.sql import functions as F

    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df
