"""Exact K-nearest-neighbour search ($vectorSearch semantics).

Reference behavior being reproduced (all executed inside Atlas there):
- ``$vectorSearch{index, path, queryVector, limit, numCandidates, filter}``
  (reference backend/api.py:168-202, local-test.py:144-166)
- pre-filter evaluated BEFORE top-k selection (reference backend/api.py:178-180,
  filter fields declared in indexes.py:66-68) — exact pre-filtered KNN
- results ordered by score descending (Atlas contract), ties broken by id
  ascending for cross-engine determinism (SURVEY.md §5.2)
- score is the Atlas-rescaled similarity (functions.vector.atlas_score)

Physical plan notes (what Catalyst produces and why it scales):
- ``where`` before scoring → predicate pushdown to the parquet scan
  (row-group skipping); the score expression never runs on filtered-out rows.
- ``orderBy(...).limit(k)`` → ``TakeOrderedAndProject``: per-partition top-k
  heaps + single driver merge of k·num_partitions rows. No global sort, no
  shuffle of the corpus — this is the property that survives a 100× scale-up.
  The heaps run as parallel tasks, one per partition of ``df``; the
  serving engine (``api.SearchEngine._knn``) chooses how many by coalescing
  its vector table to the cores the requests in flight leave free.
- The score is an interpreted projection: higher-order functions
  (zip_with/aggregate) fall back from whole-stage codegen, so each lambda
  runs once per vector element. Nothing crosses into Python. Per row, a
  cosine score makes one dot-product pass, plus one norm pass unless
  ``norm_col`` supplies the row's norm; the query's norm is a driver-side
  literal (functions.vector).
- Cosine is undefined for a zero vector: zero-norm rows are never returned,
  and a zero query vector raises ``ValueError``.

For 100 TB: the exact path is a full scan — bounded by scan bandwidth, which
Spark parallelizes linearly. When sub-scan latency is needed, layer
``operators.ivf`` (partition-pruned probing) in front; this module is also the
re-ranker those approximate probes feed.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.vector import atlas_score, norm, norm_value

DEFAULT_LIMIT = 5
MAX_LIMIT = 25


def clamp_limit(k: int | None) -> int:
    """Reference limit clamping: default 5, clamped to [1, 25]
    (reference backend/api.py:115-119)."""
    if k is None:
        return DEFAULT_LIMIT
    return max(1, min(int(k), MAX_LIMIT))


def knn(
    df: DataFrame,
    query_vector: Sequence[float] | Column,
    k: int = DEFAULT_LIMIT,
    *,
    vector_col: str = "embedding",
    id_col: str = "vec_id",
    metric: str = "cosine",
    pre_filter: Column | None = None,
    score_col: str = "score",
    round_dp: int | None = 6,
    clamp: bool = True,
    expected_dim: int | None = None,
    norm_col: str | None = None,
) -> DataFrame:
    """Exact top-k nearest rows to ``query_vector``.

    Returns ``df``'s columns minus the vector column, plus ``score_col``,
    ordered (score DESC, id ASC), truncated to ``k`` rows. ``pre_filter`` is
    applied before scoring/top-k — the reference's $vectorSearch.filter
    semantics, which is *stronger* than post-filtering (always k results when
    k matches exist).

    Scores with JVM higher-order functions (no Python anywhere).

    Cosine only: ``norm_col`` names a column of ``df`` holding each row's
    precomputed ``norm(vector_col)``, which saves one pass over every vector;
    it is dropped from the output. Rows whose norm is 0 (or NULL) are never
    returned, and a zero query vector raises ``ValueError``.
    """
    if clamp:
        k = clamp_limit(k)
    if (
        expected_dim is not None
        and not isinstance(query_vector, Column)
        and len(list(query_vector)) != expected_dim
    ):
        # zip_with null-pads silently on length mismatch → every score would
        # be NULL; fail loudly instead
        raise ValueError(
            f"query vector has {len(list(query_vector))} dims, corpus has {expected_dim}"
        )
    if pre_filter is not None:
        df = df.where(pre_filter)
    row_norm = None
    if metric == "cosine":
        if not isinstance(query_vector, Column) and norm_value(query_vector) == 0.0:
            raise ValueError("query vector is all zeros: cosine similarity is undefined")
        if norm_col is None:
            norm_col = "__knn_norm"
            df = df.withColumn(norm_col, norm(F.col(vector_col)))
        row_norm = F.col(norm_col)
        df = df.where(row_norm > 0)
    score = atlas_score(F.col(vector_col), query_vector, metric, row_norm)
    if round_dp is not None:
        score = F.round(score, round_dp)
    out_cols = [c for c in df.columns if c not in (vector_col, norm_col)]
    return (
        df.withColumn(score_col, score)
        .select(*out_cols, score_col)
        .orderBy(F.col(score_col).desc(), F.col(id_col).asc())
        .limit(k)
    )


def knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    *,
    query_vector_col: str = "embedding",
    query_id_col: str = "query_id",
    corpus_vector_col: str = "embedding",
    corpus_id_col: str = "vec_id",
    metric: str = "cosine",
    score_col: str = "score",
    round_dp: int | None = 6,
) -> DataFrame:
    """Bulk similarity search: top-k corpus neighbours for EVERY query row.

    The batch analog of serving many $vectorSearch requests at once — the
    shape a training-data pipeline needs (e.g. retrieval-augmented labeling).

    Plan: broadcast the query side (queries ≪ corpus, the realistic regime) →
    broadcast-nested-loop scoring, partitioned by corpus → **partition-local
    top-k prune** (local sort, no exchange, then a streaming first-k-per-query
    Arrow pass) → tiny global re-rank over the pruned triples. The shuffle
    carries at most |corpus_partitions|·|queries|·k rows of
    (query_id, corpus_id, score) — never the vectors, never the full
    |queries|·|corpus| cross product, and no query's score stream ever lands
    on a single reducer. At 100 TB corpus this is scan-bound and
    embarrassingly parallel.
    """
    from pyspark.sql import Window

    q = queries.select(
        F.col(query_id_col).alias("__qid"), F.col(query_vector_col).alias("__qvec")
    )
    score = atlas_score(F.col(corpus_vector_col), F.col("__qvec"), metric)
    if round_dp is not None:
        score = F.round(score, round_dp)
    scored = (
        corpus.crossJoin(F.broadcast(q))
        .withColumn(score_col, score)
        .drop("__qvec", corpus_vector_col)
    )
    return topk_per_group(
        scored, k, group_col="__qid", score_col=score_col, id_col=corpus_id_col
    ).withColumnRenamed("__qid", query_id_col)


def topk_per_group(
    scored: DataFrame,
    k: int,
    *,
    group_col: str,
    score_col: str,
    id_col: str,
) -> DataFrame:
    """Top-k rows per group with (score DESC, id ASC) total order, without a
    global sort: partition-local prune first (sortWithinPartitions is a local
    sort, no exchange; an Arrow pass keeps the first k rows per group per
    partition, carrying a per-group count across batch boundaries), then the
    window re-rank runs over at most |partitions|·|groups|·k rows. No group's
    full score stream ever lands on one reducer — the property that lets the
    bulk KNN join and the batch ANN searches survive a 100× scale-up."""

    def _local_topk(batches):
        taken: dict = {}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            in_batch = pdf.groupby(group_col, sort=False).cumcount()
            offset = pdf[group_col].map(taken).fillna(0).astype("int64")
            keep = (in_batch + offset) < k
            counts = pdf.loc[keep, group_col].value_counts()
            for gid, n in counts.items():
                taken[gid] = taken.get(gid, 0) + int(n)
            if keep.any():
                yield pdf.loc[keep]

    from pyspark.sql import Window

    pruned = scored.sortWithinPartitions(
        group_col, F.col(score_col).desc(), F.col(id_col).asc()
    ).mapInPandas(_local_topk, scored.schema)
    w = Window.partitionBy(group_col).orderBy(
        F.col(score_col).desc(), F.col(id_col).asc()
    )
    return (
        pruned.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )
