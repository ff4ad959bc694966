"""Fast-path kernels must reproduce the pure-Catalyst baselines exactly
(after 6-dp rounding): pandas shingle/MinHash/SimHash/fingerprint kernels vs
their SQL twins, numpy and block near-dup kernels vs the SQL self-join."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from .conftest import SF_SMALL


def test_shingle_pandas_kernel_matches_sql(spark):
    from hybrid_vector_search_spark.operators.dedup import shingle_table
    from hybrid_vector_search_spark.sources import load_table

    docs = load_table(spark, SF_SMALL, "documents")
    a = set(map(tuple, shingle_table(docs, "doc_id", "text", kernel="sql").collect()))
    b = set(map(tuple, shingle_table(docs, "doc_id", "text", kernel="pandas").collect()))
    assert a == b and len(a) > 0


def test_minhash_sigs_pandas_kernel_matches_sql(spark):
    from hybrid_vector_search_spark.operators.dedup import minhash_signatures
    from hybrid_vector_search_spark.sources import load_table

    docs = load_table(spark, SF_SMALL, "documents")
    a = sorted(map(tuple, minhash_signatures(docs, "doc_id", "text", kernel="sql").collect()))
    b = sorted(map(tuple, minhash_signatures(docs, "doc_id", "text", kernel="pandas").collect()))
    assert a == b and len(a) > 0


def test_simhash_pandas_kernel_matches_sql(spark):
    from hybrid_vector_search_spark.operators.dedup import simhash
    from hybrid_vector_search_spark.sources import load_table

    docs = load_table(spark, SF_SMALL, "documents")
    a = sorted(map(tuple, simhash(docs, "doc_id", "text", kernel="sql").collect()))
    b = sorted(map(tuple, simhash(docs, "doc_id", "text", kernel="pandas").collect()))
    assert a == b and len(a) > 0


def test_fingerprint_pandas_kernel_matches_sql(spark):
    from hybrid_vector_search_spark.operators.textstats import fingerprints
    from hybrid_vector_search_spark.sources import load_table

    docs = load_table(spark, SF_SMALL, "documents")
    a = sorted(map(tuple, fingerprints(docs, "doc_id", "text", kernel="sql").collect()))
    b = sorted(map(tuple, fingerprints(docs, "doc_id", "text", kernel="pandas").collect()))
    assert a == b and len(a) > 0


def test_near_dup_numpy_kernel_matches_sql(spark):
    from hybrid_vector_search_spark.operators.dedup import embedding_near_dups
    from hybrid_vector_search_spark.sources import load_table

    emb = load_table(spark, SF_SMALL, "embeddings")
    sql_pairs = {
        (r.id_a, r.id_b, r.cos)
        for r in embedding_near_dups(emb, "vec_id", "embedding", threshold=0.4, kernel="sql").collect()
    }
    np_pairs = {
        (r.id_a, r.id_b, r.cos)
        for r in embedding_near_dups(emb, "vec_id", "embedding", threshold=0.4, kernel="numpy").collect()
    }
    assert sql_pairs == np_pairs and len(np_pairs) > 0


def test_near_dup_block_kernel_matches_sql(spark):
    """The default (distributed, driver-collect-free) block kernel must be
    exact: identical pair set and cosines to the Catalyst self-join twin,
    at several block counts including B > rows-per-block ones."""
    from hybrid_vector_search_spark.operators.dedup import embedding_near_dups
    from hybrid_vector_search_spark.sources import load_table

    emb = load_table(spark, SF_SMALL, "embeddings")
    sql_pairs = {
        (r.id_a, r.id_b, r.cos)
        for r in embedding_near_dups(emb, "vec_id", "embedding", threshold=0.4, kernel="sql").collect()
    }
    for n_blocks in (2, 5):
        blk_pairs = {
            (r.id_a, r.id_b, r.cos)
            for r in embedding_near_dups(
                emb, "vec_id", "embedding", threshold=0.4, kernel="block", n_blocks=n_blocks
            ).collect()
        }
        assert blk_pairs == sql_pairs and len(blk_pairs) > 0


def test_near_dup_numpy_kernel_guards_driver_collect(spark):
    """kernel='numpy' materializes the vector side on the driver — it must
    refuse to do so past broadcast_limit instead of silently OOMing at scale."""
    import pytest

    from hybrid_vector_search_spark.operators.dedup import embedding_near_dups
    from hybrid_vector_search_spark.sources import load_table

    emb = load_table(spark, SF_SMALL, "embeddings")
    with pytest.raises(ValueError, match="block"):
        embedding_near_dups(
            emb, "vec_id", "embedding", threshold=0.4, kernel="numpy", broadcast_limit=10
        )


def test_repetition_kernel_equals_sql_twin(spark):
    from hybrid_vector_search_spark.operators.textstats import repetition_stats
    from hybrid_vector_search_spark.sources import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    fast = sorted(map(tuple, repetition_stats(docs, "doc_id", "text").collect()))
    slow = sorted(
        map(tuple, repetition_stats(docs, "doc_id", "text", kernel="sql").collect())
    )
    assert fast == slow


def test_empty_vector_literal_is_typed_double_array(spark):
    """The fast F.expr literal path must not emit array<void> for an empty
    query vector — dot() against an array<double> column has to analyze."""
    from pyspark.sql import functions as F

    from hybrid_vector_search_spark.functions.vector import dot

    df = spark.createDataFrame([([1.0, 2.0],)], "v array<double>")
    # must ANALYZE (array<void> from a bare array() literal fails here);
    # zip_with against a shorter array null-pads, so the dot is NULL —
    # the pre-regression semantics.
    out = df.select(dot(F.col("v"), []).alias("d")).collect()
    assert out[0]["d"] is None
    out2 = df.select(dot(F.col("v"), [3.0, 1.0]).alias("d")).collect()
    assert out2[0]["d"] == 5.0
