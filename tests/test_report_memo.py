"""artifacts.memo: materialize-once wrapper for expensive builders."""

from __future__ import annotations

SF = "/root/testdata/sf0.001"


def test_memo_second_call_equals_raw_builder(spark):
    import __spark_entry__ as e

    wrapped = e.queries()["dedup_components"]
    assert wrapped.__name__ == "memo_dedup_components"
    raw = wrapped.__wrapped__
    first = sorted(map(tuple, wrapped(spark, SF).collect()))
    second = sorted(map(tuple, wrapped(spark, SF).collect()))  # parquet-served
    direct = sorted(map(tuple, raw(spark, SF).collect()))
    assert first == second == direct and len(first) > 0
    # schema survives the parquet round trip
    assert wrapped(spark, SF).schema == raw(spark, SF).schema


def test_memo_evicts_other_sf_dirs(spark):
    import __spark_entry__ as e
    from hybrid_vector_search_spark import artifacts

    artifacts._entries.pop("memo_dedup_components", None)
    wrapped = e.queries()["dedup_components"]
    wrapped(spark, SF)
    assert artifacts._entries["memo_dedup_components"].sf_dir == SF
    other = "/root/testdata/sf0.01"
    wrapped(spark, other)
    # one entry per kind: the other sf_dir's build replaced the SF entry
    assert artifacts._entries["memo_dedup_components"].sf_dir != SF
    assert artifacts._entries["memo_dedup_components"].sf_dir == other
