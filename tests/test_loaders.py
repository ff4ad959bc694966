"""load_table must work under a SparkSession the caller built themselves.

The correctness driver builds its own bare SparkSession (no session.py
configs), so the events.ts normalization (the driver-generated parquet is
``timestamp[us]`` with no timezone → TIMESTAMP_NTZ under Spark) has to be
applied at runtime inside load_table, not at session-build time.
"""

from __future__ import annotations

from pyspark.sql import types as T

from hybrid_vector_search_spark.sources import load_table
from tests.conftest import SF_SMALL


def test_events_reads_under_bare_session(spark):
    # newSession() gives a sibling session with its own SQLConf — simulates a
    # driver-built session that never saw session.py's configs.
    bare = spark.newSession()
    bare.conf.set("spark.sql.session.timeZone", "UTC")

    df = load_table(bare, SF_SMALL, "events")
    # unix_micros/window/watermark require TIMESTAMP, so the loader must hand
    # back TimestampType no matter how the file spells its ts column
    assert isinstance(df.schema["ts"].dataType, T.TimestampType)
    n = df.count()
    assert n > 0
    # sanity: timestamps landed in a plausible epoch range, not raw nanos
    row = df.selectExpr("min(ts) AS lo", "max(ts) AS hi").first()
    assert row["lo"].year >= 1990 and row["hi"].year <= 2100


def test_events_ts_roundtrip_vs_duckdb(spark, duck):
    """The micros conversion must agree with DuckDB's read of the same file."""
    df = load_table(spark, SF_SMALL, "events")
    s = df.selectExpr("count(*) AS n", "min(ts) AS lo", "max(ts) AS hi").first()
    o = duck.execute(
        f"SELECT count(*) AS n, min(ts) AS lo, max(ts) AS hi "
        f"FROM read_parquet('{SF_SMALL}/events.parquet')"
    ).fetchone()
    assert s["n"] == o[0]
    # both engines read micros; UTC session tz means the values line up exactly
    assert abs((s["lo"] - o[1]).total_seconds()) < 1e-3
    assert abs((s["hi"] - o[2]).total_seconds()) < 1e-3


def test_events_nanos_encoding_fallback(spark, tmp_path):
    """The driver's regeneration has shipped events.ts as TIMESTAMP(NANOS)
    in past rounds; load_table must read that encoding too (nanosAsLong
    fallback + long→timestamp conversion), and restore the session conf."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    sf_dir = str(tmp_path)
    table = pa.table(
        {
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array([1_700_000_000_000_000_000, 1_700_000_060_000_000_000],
                           pa.timestamp("ns")),
        }
    )
    pq.write_table(table, f"{sf_dir}/events.parquet", store_schema=False)

    bare = spark.newSession()
    bare.conf.set("spark.sql.session.timeZone", "UTC")
    df = load_table(bare, sf_dir, "events")
    assert isinstance(df.schema["ts"].dataType, T.TimestampType)
    lo, hi = df.selectExpr("min(ts) AS lo", "max(ts) AS hi").first()
    assert (hi - lo).total_seconds() == 60.0
    assert lo.year == 2023
    # conf restored: a later nanos read in the same session must still error
    assert bare.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") == "false"


def test_schema_cache_matches_inference(spark):
    """r13: load_table keeps each table's parquet schema as an artifact per
    (sf_dir, input identity) so repeated loads skip footer re-inference. The
    cached-path DataFrame must be schema- and content-identical to a fresh
    inference."""
    from hybrid_vector_search_spark import artifacts

    for name in ("lineitem", "events"):
        kind = f"schema_{name}"
        artifacts._entries.pop(kind, None)
        first = load_table(spark, SF_SMALL, name)  # populates the cache
        entry = artifacts._entries[kind]
        assert entry.sf_dir == SF_SMALL
        assert entry.identity == artifacts.input_identity(SF_SMALL)
        second = load_table(spark, SF_SMALL, name)  # served from the cache
        assert second.schema == first.schema
        fresh = spark.read.parquet(f"{SF_SMALL}/{name}.parquet")
        if name == "events":
            from hybrid_vector_search_spark.sources.loaders import _normalize_ts

            fresh = _normalize_ts(fresh)
        assert second.schema == fresh.schema
        assert second.count() == fresh.count()


def test_schema_cache_skipped_on_nanos_fallback(spark, tmp_path):
    """The nanos-fallback read must not poison the cache (its conf
    save/restore window has to rerun per call)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hybrid_vector_search_spark import artifacts

    sf_dir = str(tmp_path)
    table = pa.table(
        {
            "event_id": pa.array([1], pa.int64()),
            "ts": pa.array([1_700_000_000_000_000_000], pa.timestamp("ns")),
        }
    )
    pq.write_table(table, f"{sf_dir}/events.parquet", store_schema=False)
    bare = spark.newSession()
    bare.conf.set("spark.sql.session.timeZone", "UTC")
    df = load_table(bare, sf_dir, "events")
    assert isinstance(df.schema["ts"].dataType, T.TimestampType)
    # the entry for this sf_dir holds no schema to replay
    entry = artifacts._entries["schema_events"]
    assert entry.sf_dir == sf_dir and entry.value is None


def test_schema_cache_reinfers_after_inplace_rewrite(spark, tmp_path):
    """r14 advice: the artifact's input identity carries the file's
    (mtime_ns, size), so a parquet rewritten IN PLACE during one process
    re-infers instead of replaying the stale schema (which could silently
    misread the new file)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    sf_dir = str(tmp_path)
    path = f"{sf_dir}/part.parquet"
    pq.write_table(
        pa.table({"p_partkey": pa.array([1, 2], pa.int64())}), path
    )
    first = load_table(spark, sf_dir, "part")
    assert first.schema.fieldNames() == ["p_partkey"]
    # rewrite in place with a DIFFERENT schema; the old key must not serve
    pq.write_table(
        pa.table(
            {
                "p_partkey": pa.array([3], pa.int64()),
                "p_name": pa.array(["x"], pa.string()),
            }
        ),
        path,
    )
    second = load_table(spark, sf_dir, "part")
    assert second.schema.fieldNames() == ["p_partkey", "p_name"]
    assert second.count() == 1
