"""SQL-surface views answer the same questions as the DataFrame builders."""

from __future__ import annotations

from .conftest import SF_SMALL


def test_sql_views_queryable(spark):
    from hybrid_vector_search_spark.plans.sql_surface import register_all

    names = register_all(spark, SF_SMALL)
    assert "ft_postings" in names and "doc_quality" in names

    hit = spark.sql(
        "SELECT count(*) AS n FROM ft_postings WHERE term = 'spark'"
    ).head()
    assert hit.n > 0

    # BM25 via pure SQL over the registered stats views matches the operator
    from hybrid_vector_search_spark.operators.bm25 import bm25_scores, build_text_stats
    from hybrid_vector_search_spark.sources import load_table

    docs = load_table(spark, SF_SMALL, "documents")
    op = sorted(
        map(tuple, bm25_scores(build_text_stats(docs, "doc_id", "text"), ["spark"]).collect())
    )
    via_sql = sorted(
        map(
            tuple,
            spark.sql(
                """
                SELECT p.id, round(sum(
                         ln(1 + (c.n - f.df + 0.5) / (f.df + 0.5))
                         * p.tf * 2.2 / (p.tf + 1.2 * (1 - 0.75 + 0.75 * l.dl / c.avgdl))
                       ), 6) AS score
                FROM ft_postings p
                JOIN ft_doc_freq f ON p.term = f.term
                JOIN ft_doc_len l ON p.id = l.id
                CROSS JOIN ft_corpus c
                WHERE p.term = 'spark'
                GROUP BY p.id
                """
            ).collect(),
        )
    )
    assert op == via_sql
    # the same scores from the weights the index build stored
    stored = sorted(
        map(
            tuple,
            spark.sql(
                "SELECT id, round(sum(w), 6) AS score FROM ft_postings"
                " WHERE term = 'spark' GROUP BY id"
            ).collect(),
        )
    )
    assert stored == op == via_sql

    splits = spark.sql("SELECT DISTINCT split FROM doc_splits ORDER BY split").collect()
    assert [r.split for r in splits] == ["test", "train", "val"]


def test_query_views_registered_and_equal(spark):
    """Every driver query is SQL-addressable as q_<name>, and SQL-on-view
    returns the same rows as the DataFrame builder."""
    from hybrid_vector_search_spark.plans.sql_surface import register_query_views

    import __spark_entry__ as entry_mod

    sf = "/root/testdata/sf0.001"
    names = register_query_views(spark, sf)
    assert len(names) == len(entry_mod.queries())
    for probe in ("q_pricing_summary", "q_set_ops_customers"):
        assert probe in names
        via_sql = spark.sql(f"SELECT * FROM {probe}").collect()
        direct = entry_mod.queries()[probe[2:]](spark, sf).collect()
        assert sorted(map(tuple, via_sql)) == sorted(map(tuple, direct))
