"""Parquet table loaders for the driver-provided testdata layout.

The reference's sources are MongoDB collection scans
(``collection.find({})``, reference transform-seed.py:113-115) and
aggregation-pipeline cursors (reference backend/api.py:285). Our source is the
columnar parquet scan: predicate pushdown, column pruning and row-group
min/max skipping all apply automatically once the plan is declarative.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .. import artifacts

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


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one testdata table. Keep this lazy — no .cache(), no .count() —
    so Catalyst can push query-specific filters/projections into the scan.

    The parquet schema is an artifact (``schema_<name>``): inference re-reads
    the footer on every spark.read.parquet call (~0.14 s of driver-side
    analysis vs ~0.03 s with an explicit schema, measured at sf0.1), so it is
    inferred once per sf_dir and input identity, the way a deployment reads
    through a catalog whose schemas are known. It holds metadata only; every
    query still scans the data itself."""
    if name not in TABLES:
        raise ValueError(f"unknown table {name!r}; expected one of {TABLES}")
    path = f"{sf_dir}/{name}.parquet"
    schema = artifacts.get(
        spark, f"schema_{name}", sf_dir, lambda: _infer_schema(spark, path, name)
    )
    if schema is None:  # nanos fallback: its conf window must rerun per read
        return _normalize_ts(_read_events(spark, path)[0])
    df = spark.read.schema(schema).parquet(path)
    return _normalize_ts(df) if name == "events" else df


def _infer_schema(spark: SparkSession, path: str, name: str):
    """The table's inferred schema, or None when only the events nanos
    fallback can read it (such a scan cannot be replayed from a schema)."""
    if name != "events":
        return spark.read.parquet(path).schema
    df, plain = _read_events(spark, path)
    return df.schema if plain else None


def _read_events(spark: SparkSession, path: str):
    """Read events.parquet under EITHER ts encoding the driver has shipped;
    returns (df, plain) where ``plain`` is True iff no fallback was needed.
    Round r2's testdata used TIMESTAMP(NANOS), which the vectorized reader
    rejects at schema-resolution time; r3+ uses timestamp[us] (NTZ). The
    regeneration has flipped encodings between rounds before, so keep the
    nanos fallback: on the Illegal-Parquet-type error, re-read with
    nanosAsLong (save/restore the conf — leaving it set session-wide would
    make a LATER nanos column scan silently as LongType) and let
    _normalize_ts convert the long to a timestamp."""
    try:
        df = spark.read.parquet(path)
        df.schema  # force resolution so the nanos error surfaces HERE
        return df, True
    except Exception as exc:
        if "TIMESTAMP(NANOS" not in str(exc):
            raise
    key = "spark.sql.legacy.parquet.nanosAsLong"
    prior = spark.conf.get(key, None)
    spark.conf.set(key, "true")
    try:
        df = spark.read.parquet(path)
        df.schema  # force resolution inside the conf-restore window
        return df, False
    finally:
        if prior is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prior)


def _normalize_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Pin events.ts to session-local TIMESTAMP regardless of how the file
    encodes it. The driver-generated parquet stores ``timestamp[us]`` with no
    timezone, which Spark scans as TIMESTAMP_NTZ; time functions such as
    ``unix_micros``/``window`` require TIMESTAMP. The session timezone is UTC
    (session.py), so the cast relabels the same wall-clock instant the DuckDB
    oracle reads — values, not just types, stay comparable. The dtype guards
    keep a plain-TIMESTAMP file a no-op and convert a nanos-as-long scan
    (_read_events' fallback) at microsecond precision."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    dt = df.schema[col].dataType
    if isinstance(dt, T.TimestampNTZType):
        return df.withColumn(col, F.col(col).cast("timestamp"))
    if isinstance(dt, T.LongType):  # epoch nanos via nanosAsLong
        return df.withColumn(col, F.expr(f"timestamp_micros({col} div 1000)"))
    return df


def fan_out(df: DataFrame) -> DataFrame:
    """Round-robin repartition to session parallelism for COMPUTE-HEAVY
    stages over under-split inputs (guide §2.5: "one huge unsplittable
    file … repartition immediately after the read"). The bundled testdata
    is one parquet file with one row group per table, so every scan — and
    any map-side partial aggregation fused into it — runs as a single
    task regardless of split settings. No-op when the scan is backed by
    at least half a task's worth of files per core (a real deployment's
    inputs arrive as many files/splits, so this never fires there);
    parameterized by defaultParallelism, never a constant. The file count
    comes from the cached file index (inputFiles) — converting the plan
    to an RDD to count partitions instead costs ~1 s of driver time per
    call."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if len(df.inputFiles()) * 2 >= par:
        return df
    return df.repartition(par)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view for spark.sql() use."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
