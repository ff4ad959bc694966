"""BM25 full-text relevance ($search semantics) as a DataFrame program.

The reference delegates text scoring to the Atlas Lucene index
(``$search{text: {query, path: title}}``, reference backend/api.py:255-281;
index definition indexes.py:73-86 — single field, static mapping, default
analyzer). Spark has no text index, so this module implements the published
BM25 ranking function (Robertson & Zaragoza 2009; Lucene's variant) natively:

    idf(t)  = ln(1 + (N - df + 0.5) / (df + 0.5))
    norm(d) = k1 * (1 - b + b * dl/avgdl)
    score   = Σ_t idf(t) * tf * (k1 + 1) / (tf + norm(d))      k1=1.2, b=0.75

Analyzer: functions.text.tokens — lowercase, split on non-alphanumerics. This
is a *pinned, engine-reproducible* definition rather than bug-for-bug Lucene
(which float-quantizes doc lengths); the DuckDB oracle implements the same
formula so correctness is checked end-to-end.

Ordering constraint (SURVEY.md §4.2): corpus statistics (N, avgdl, df) are
always computed over the FULL table, never a filtered subset — matching the
reference, where the Lucene index stats are corpus-global and the residual
``$match`` runs after scoring (backend/api.py:265-266). ``fulltext()`` takes
the residual filter as an argument and applies it post-scoring.

Scale design:
- ``build_text_stats`` is the "index build" (mirrors the reference's separate
  indexes.py step): one explode + two groupBys over the corpus, written once
  and reused by every query. At 100 TB this is the only corpus-sized shuffle,
  and it is amortized across all queries. N, avgdl and df are fixed there, so
  every (doc, term) weight is a constant — pre-computed impacts (Anh &
  Moffat, SIGIR 2006): the build computes each posting's weight ``w`` once,
  and no scorer joins the statistics again.
- Two layouts of the same stored weights serve queries, neither joining at
  query time:
  - postings, ``(id, term, tf, w)`` (``bm25_scores`` / ``fulltext``, hybrid
    search's text branch, ``rm3_scores`` and the 262-query bench): a query
    sums ``w`` over the postings of its terms, so its work is proportional to
    those postings, not to the corpus (predicate pushdown into the postings
    scan when stats are saved as parquet sorted by term).
  - the impact map (``impact_table`` / ``impact_fulltext``, the search
    engine's fulltext mode): each document's weights as a
    ``map<term, double>`` next to the corpus columns; a request is then one
    scan, one filter and one top-k, with no join and no shuffle. The caveat:
    a forward map makes a request O(corpus), and each map lookup is linear in
    the document's distinct terms, where postings are O(postings of the
    query terms). That is the right trade for short titles over thousands of
    rows (the paper's 5.4k products); at hundreds of thousands of rows,
    measure both.
- No Python UDFs anywhere — the whole scorer is codegen'd expressions.
"""

from __future__ import annotations

import functools
import operator
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokens

K1 = 1.2
B = 0.75


@dataclass
class TextStats:
    """The 'full-text index': the postings with their stored BM25 weights,
    and the corpus statistics those weights were computed from."""

    postings: DataFrame  # (id, term, tf, w): w = the posting's BM25 weight
    doc_len: DataFrame  # (id, dl)
    doc_freq: DataFrame  # (term, df)
    corpus: DataFrame  # (n, avgdl) — single row

    def persist(self) -> "TextStats":
        """The postings eagerly ``localCheckpoint``ed, which cuts their
        lineage: a cached plan would keep the build's broadcast relations on
        the heap. The three small relations are cached."""
        return TextStats(
            self.postings.localCheckpoint(eager=True),
            self.doc_len.cache(),
            self.doc_freq.cache(),
            self.corpus.cache(),
        )

    def save(self, path: str) -> None:
        """Write the index as parquet — the engine's analog of the reference's
        separate index-build step (indexes.py). Postings are partitioned-ready
        (sorted by term) so term filters prune row groups at query time."""
        self.postings.sortWithinPartitions("term").write.mode("overwrite").parquet(
            f"{path}/postings"
        )
        self.doc_len.write.mode("overwrite").parquet(f"{path}/doc_len")
        self.doc_freq.write.mode("overwrite").parquet(f"{path}/doc_freq")
        self.corpus.write.mode("overwrite").parquet(f"{path}/corpus")

    @staticmethod
    def load(spark, path: str) -> "TextStats":
        return TextStats(
            spark.read.parquet(f"{path}/postings"),
            spark.read.parquet(f"{path}/doc_len"),
            spark.read.parquet(f"{path}/doc_freq"),
            spark.read.parquet(f"{path}/corpus"),
        )


def build_text_stats(df: DataFrame, id_col: str, text_col: str) -> TextStats:
    """Index build: tokenise once, derive lengths + frequencies, and store
    each posting's BM25 weight ``w``."""
    toks = df.select(
        F.col(id_col).alias("id"), F.explode(tokens(F.col(text_col))).alias("term")
    )
    tf = toks.groupBy("id", "term").agg(F.count("*").cast("double").alias("tf"))
    doc_len = toks.groupBy("id").agg(F.count("*").cast("double").alias("dl"))
    doc_freq = tf.groupBy("term").agg(F.count("*").cast("double").alias("df"))
    corpus = doc_len.agg(
        F.count("*").cast("double").alias("n"), F.avg("dl").alias("avgdl")
    )
    postings = (
        tf.join(F.broadcast(doc_freq), "term")
        .join(doc_len, "id")
        .crossJoin(F.broadcast(corpus))
        .select("id", "term", "tf", _weight().alias("w"))
    )
    return TextStats(postings, doc_len, doc_freq, corpus)


def _weight() -> Column:
    """One (doc, term) BM25 weight, idf(t)·tf·(k1+1)/(tf+norm(d)), over the
    columns ``n``, ``avgdl`` (corpus), ``df`` (term), ``dl`` (doc) and ``tf``."""
    idf = F.log(F.lit(1.0) + (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    tf_part = (F.col("tf") * (K1 + 1.0)) / (
        F.col("tf") + K1 * (1.0 - B + B * F.col("dl") / F.col("avgdl"))
    )
    return idf * tf_part


def bm25_scores(stats: TextStats, query_terms: list[str]) -> DataFrame:
    """(id, score) for every document matching ≥1 query term: the sum of
    its stored weights over the query terms, rounded to 6 dp.

    Per Lucene semantics, duplicate query terms contribute once (the query is
    a term *set*); unmatched documents are absent (score has no 0 rows).
    """
    return (
        stats.postings.where(F.col("term").isin(sorted(set(query_terms))))
        .groupBy("id")
        .agg(F.round(F.sum("w"), 6).alias("score"))
    )


def fulltext(
    df: DataFrame,
    query: str,
    k: int,
    *,
    id_col: str,
    text_col: str,
    stats: TextStats | None = None,
    residual_filter: Column | None = None,
) -> DataFrame:
    """The reference's fulltext mode: score → residual $match → top-k.

    ``stats`` should be a prebuilt (persisted) index in any real deployment;
    when omitted it is derived from ``df`` on the fly — over the FULL df,
    before any filter, preserving corpus-global statistics (§4.2).
    """
    if stats is None:
        stats = build_text_stats(df, id_col, text_col)
    scores = bm25_scores(stats, _py_tokens(query)).withColumnRenamed(
        "id", "__bm25_id"  # corpus may legitimately have its own `id` column
    )
    out = df.join(scores, F.col(id_col) == F.col("__bm25_id"), "inner").drop("__bm25_id")
    if residual_filter is not None:
        out = out.where(residual_filter)
    return out.orderBy(F.col("score").desc(), F.col(id_col).asc()).limit(k)


IMPACTS = "__impacts"  # impact_table's map<term, double> column


def impact_table(df: DataFrame, stats: TextStats, id_col: str) -> DataFrame:
    """``df`` with column ``IMPACTS``: each document's stored BM25 weight per
    term, the same ``w`` that ``bm25_scores`` sums.

    The per-document maps are broadcast into ``df``, so the table keeps
    ``df``'s partitioning. Documents without a token are dropped: they match
    no query. ``df``'s ids must be unique."""
    impacts = (
        stats.postings.groupBy(F.col("id").alias("__impact_id"))  # corpus may have its own `id`
        .agg(F.map_from_entries(F.collect_list(F.struct("term", "w"))))
        .toDF("__impact_id", IMPACTS)
    )
    return df.join(F.broadcast(impacts), F.col(id_col) == F.col("__impact_id")).drop(
        "__impact_id"
    )


def impact_fulltext(
    table: DataFrame, query: str, k: int, *, id_col: str, residual_filter: Column | None
) -> DataFrame:
    """``fulltext`` over an ``impact_table``: the documents holding any query
    term, scored ``round(Σ_t impact(t), 6)`` over the distinct query terms in
    sorted order, then the residual filter, then the top ``k``.

    For queries of at most two distinct terms the scores equal
    ``bm25_scores``' bit for bit; beyond that its hash aggregate may add
    the same terms in another order (last-place differences)."""
    weights = [F.col(IMPACTS)[t] for t in sorted(set(_py_tokens(query)))]
    matched = functools.reduce(operator.or_, [w.isNotNull() for w in weights], F.lit(False))
    score = functools.reduce(operator.add, [F.coalesce(w, F.lit(0.0)) for w in weights], F.lit(0.0))
    out = table.where(matched).withColumn("score", F.round(score, 6)).drop(IMPACTS)
    if residual_filter is not None:
        out = out.where(residual_filter)
    return out.orderBy(F.col("score").desc(), F.col(id_col).asc()).limit(k)


def _py_tokens(s: str) -> list[str]:
    """Driver-side tokenizer — the same definition as functions.text.tokens."""
    import re

    return [t for t in re.split(r"[\W_]+", s.lower()) if t]


def rm3_scores(
    stats: TextStats,
    query_terms: list[str],
    *,
    fb_docs: int = 10,
    fb_terms: int = 8,
    orig_weight: float = 0.6,
) -> DataFrame:
    """RM3 pseudo-relevance feedback (Lavrenko & Croft 2001 relevance models,
    the Anserini/Indri default expansion): retrieve top ``fb_docs`` by BM25,
    mine ``fb_terms`` expansion terms from them weighted by
    Σ_d P(t|d)·score(d) (P(t|d) = tf/dl), then interpolate
    ``orig_weight``·BM25(Q) + (1−orig_weight)·Σ_t ŵ_t·BM25-term(t) — the
    recall-recovering second pass a query-expansion search stack runs.

    Fully relational: the feedback set (``fb_docs`` rows) and the mined
    term model (``fb_terms`` rows) stay DataFrames and broadcast into the
    postings joins — no driver round trip, so the same plan serves a
    100 TB postings relation.

    Determinism ladder: base scores are BM25's 6-dp contract; every
    accumulated product (term weights, per-term expanded contributions) is
    quantized to 9 dp and summed as DECIMAL(18,9) (associative), and each
    normalization/interpolation is single double ops over those exact sums
    — so the whole two-pass pipeline replays bit-for-bit in SQL.
    """
    q_terms = sorted(set(query_terms))
    # base (pass-1 scores) feeds BOTH the feedback set and the final
    # interpolation, and the mined term model is read twice (its total and
    # the expanded pass): left unmaterialized, each reference re-executes
    # its whole plan (measured 6.5 s -> 1.8 s at sf0.1 from these two
    # localCheckpoints alone, when the weights were still joined per query). Both relations are small —
    # |matched docs| rows and fb_terms rows — the classic materialize-the-
    # feedback-model step of any RM3 implementation (guide §3.3).
    # eager=False defers only each checkpoint's final stage to the first
    # action. Building the checkpoint's RDD executes the physical plan
    # below it: every adaptive query stage (shuffle map stages and
    # broadcasts; the broadcasts also with AQE off). So this function
    # launches Spark jobs while it builds its DataFrame (statusTracker, at
    # sf0.001): 1 for ``base`` and 3 for ``topt`` over persisted stats, and
    # 10 for ``base`` when it also computes unpersisted ones.
    base = bm25_scores(stats, q_terms).localCheckpoint(eager=False)
    fb = base.orderBy(F.desc("score"), F.asc("id")).limit(fb_docs)
    # --- term model from the feedback docs (original terms excluded)
    mined = (
        stats.postings.join(F.broadcast(fb), "id")
        .join(stats.doc_len, "id")
        .where(~F.col("term").isin(q_terms))
        .select(
            "term",
            F.round((F.col("tf") / F.col("dl")) * F.col("score"), 9)
            .cast("decimal(18,9)")
            .alias("c"),
        )
        .groupBy("term")
        .agg(F.sum("c").alias("wdec"))
    )
    topt = mined.orderBy(F.desc(F.col("wdec").cast("double")), F.asc("term")).limit(
        fb_terms
    ).localCheckpoint(eager=False)
    tot = topt.agg(F.sum("wdec").alias("t"))
    what = topt.crossJoin(F.broadcast(tot)).select(
        "term",
        (F.col("wdec").cast("double") / F.col("t").cast("double")).alias("what"),
    )
    # --- expanded pass: ŵ_t · stored per-term BM25 weight over the postings
    exp_scores = (
        stats.postings.join(F.broadcast(what), "term")
        .select(
            "id",
            F.round(F.col("what") * F.col("w"), 9).cast("decimal(18,9)").alias("e"),
        )
        .groupBy("id")
        .agg(F.sum("e").alias("edec"))
    )
    return (
        base.join(exp_scores, "id", "full_outer")
        .select(
            "id",
            F.round(
                F.lit(orig_weight) * F.coalesce(F.col("score"), F.lit(0.0))
                + F.lit(1.0 - orig_weight)
                * F.coalesce(F.col("edec").cast("double"), F.lit(0.0)),
                6,
            ).alias("score"),
        )
    )
