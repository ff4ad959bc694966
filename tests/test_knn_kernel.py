"""Exact kNN kernel: ``(id, score)`` lists must equal a NumPy reference that
sums left to right in float64, as Spark's ``aggregate`` does, for every
metric, with and without a precomputed norm column and a pre-filter. Also
the zero-vector rule of cosine search, and the engine's answers whatever
number of tasks scans its vector table."""

from __future__ import annotations

import contextlib
import math
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pytest
from pyspark.sql import functions as F

from .conftest import SF_SMALL

K = 25


def _round6(x: float) -> float:
    # Spark's round: half-up from the shortest decimal form of the double
    return float(Decimal(repr(float(x))).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP))


def _seq_sum(m: np.ndarray) -> np.ndarray:
    """Row sums accumulated left to right (np.sum is pairwise)."""
    acc = np.zeros(m.shape[0])
    for j in range(m.shape[1]):
        acc = acc + m[:, j]
    return acc


def _reference(ids, mat, q, metric, keep) -> list[tuple[int, float]]:
    m = mat.astype(np.float64)
    q = np.asarray(q, dtype=np.float64)
    if metric == "euclidean":
        d = m - q
        scores = 1.0 / (1.0 + np.sqrt(_seq_sum(d * d)))
    else:
        dot = _seq_sum(m * q)
        if metric == "dotProduct":
            scores = (1.0 + dot) / 2.0
        else:
            row_norms = np.sqrt(_seq_sum(m * m))
            q_norm = math.sqrt(_seq_sum((q * q)[None, :])[0])
            keep = keep & (row_norms > 0)
            with np.errstate(divide="ignore", invalid="ignore"):
                scores = (1.0 + dot / (row_norms * q_norm)) / 2.0
    ranked = sorted((-_round6(s), int(i)) for i, s, k in zip(ids, scores, keep) if k)
    return [(i, -s) for s, i in ranked[:K]]


def _dataset(spark, name):
    from hybrid_vector_search_spark.operators.embed import HashingEmbedder, embed_documents
    from hybrid_vector_search_spark.sources import load_table

    if name == "hashing1024":
        embedder = HashingEmbedder(1024)
        docs = load_table(spark, SF_SMALL, "documents")
        df = embed_documents(docs, "text", "embedding", embedder=embedder).select(
            F.col("doc_id").alias("vec_id"), "embedding", F.col("n_chars").alias("label")
        )
        queries = [embedder.embed_one("data pipeline quality"), None]
    else:  # the sf0.001 fixture's 64-d embeddings
        df = load_table(spark, SF_SMALL, "embeddings")
        rng = np.random.default_rng(7)
        queries = [rng.standard_normal(64), None]
    df = df.cache()
    pdf = df.orderBy("vec_id").toPandas()
    mat = np.stack([np.asarray(v, dtype=np.float32) for v in pdf["embedding"]])
    queries[1] = mat[3]  # a corpus row's own vector
    queries = [[float(x) for x in q] for q in queries]
    return df, pdf, mat, queries


@pytest.fixture(scope="module", params=["hashing1024", "emb64"])
def data(request, spark):
    df, pdf, mat, queries = _dataset(spark, request.param)
    yield df, pdf, mat, queries
    df.unpersist()


@pytest.mark.parametrize(
    "metric,with_norm",
    [("cosine", False), ("cosine", True), ("dotProduct", False), ("euclidean", False)],
)
@pytest.mark.parametrize("filtered", [False, True])
def test_knn_matches_left_to_right_reference(data, metric, with_norm, filtered):
    from hybrid_vector_search_spark.functions.vector import norm
    from hybrid_vector_search_spark.operators.knn import knn

    df, pdf, mat, queries = data
    pre_filter = (F.col("label") % 3 == 0) if filtered else None
    keep = (pdf["label"] % 3 == 0).to_numpy() if filtered else np.ones(len(pdf), bool)
    norm_col = None
    if with_norm:
        df = df.withColumn("n", norm(F.col("embedding")))
        norm_col = "n"
    for q in queries:
        got = knn(df, q, K, metric=metric, pre_filter=pre_filter, norm_col=norm_col).collect()
        assert [(r.vec_id, r.score) for r in got] == _reference(
            pdf["vec_id"], mat, q, metric, keep
        )
        assert "n" not in got[0].asDict()


@pytest.mark.parametrize("with_norm", [False, True])
def test_cosine_zero_vectors(spark, with_norm):
    """A zero query raises ValueError; a zero-norm row is never returned,
    even when k exceeds the rows left (cosine is undefined for it)."""
    from hybrid_vector_search_spark.functions.vector import norm
    from hybrid_vector_search_spark.operators.knn import knn

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 0.0]), (3, [0.6, 0.8])],
        "vec_id long, embedding array<float>",
    )
    norm_col = None
    if with_norm:
        df = df.withColumn("n", norm(F.col("embedding")))
        norm_col = "n"
    with pytest.raises(ValueError, match="zeros"):
        knn(df, [0.0, 0.0], 5, norm_col=norm_col)
    got = knn(df, [1.0, 0.0], 5, norm_col=norm_col).collect()
    assert [(r.vec_id, r.score) for r in got] == [(1, 1.0), (3, 0.8)]


def test_norm_value_matches_spark_norm(spark):
    from hybrid_vector_search_spark.functions.vector import norm, norm_value

    rng = np.random.default_rng(11)
    v = [float(x) for x in rng.standard_normal(1024)]
    df = spark.createDataFrame([(v,)], "v array<double>")
    assert df.select(norm(F.col("v"))).head()[0] == norm_value(v)


class _FixedEmbedder:
    """Embeds every text as the same query vector."""

    def __init__(self, vector):
        self.vector = vector

    def embed_one(self, text):
        return self.vector


def _tasks(sc, group: str) -> int:
    """Tasks run by the jobs of a job group."""
    tracker, n = sc.statusTracker(), 0
    for jid in tracker.getJobIdsForGroup(group):
        for sid in tracker.getJobInfo(jid).stageIds:
            stage = tracker.getStageInfo(sid)
            n += stage.numCompletedTasks if stage is not None else 0
    return n


@pytest.mark.parametrize("in_parts", [1, 3])
def test_engine_answers_do_not_depend_on_the_split(spark, in_parts):
    """A lone request scans the engine's vector table in one task per
    partition; with as many requests as partitions in flight, it scans the
    table coalesced into one task. On a corpus of repeated vectors, whose
    rounded scores tie, vector and hybrid answers are the same either way,
    and vector answers equal the left-to-right reference (score DESC, id
    ASC), whatever partitioning the corpus came in."""
    from hybrid_vector_search_spark.api import SearchConfig, SearchEngine

    rng = np.random.default_rng(5)
    pool = rng.integers(-3, 4, size=(6, 8)).astype(np.float32)
    ids = rng.permutation(90) + 1
    mat, price = pool[ids % 6], (ids % 7).astype(float)
    titles = ["red apple", "green pear", "red pear", "ripe apple"]
    corpus = spark.createDataFrame(
        [(int(i), titles[i % 4], [float(x) for x in v], float(p))
         for i, v, p in zip(ids, mat, price)],
        "_id long, title string, emb_description array<float>, price double",
    ).repartition(in_parts)
    q = [float(x) for x in rng.standard_normal(8)]
    eng = SearchEngine(corpus, SearchConfig(price_col="price"), embedder=_FixedEmbedder(q))
    sc, parts = spark.sparkContext, eng._vector_parts
    assert parts == sc.defaultParallelism

    vector = {"mode": "vector", "description": "any", "limit": K}
    hybrid = {**vector, "mode": "hybrid", "title": "red apple"}
    payloads = [vector, {**vector, "maxPrice": 4}, hybrid, {**hybrid, "maxPrice": 4}]

    def serve(case: str):
        """Each payload's results, and the tasks of the unfiltered vector
        request."""
        out, tasks = [], None
        for i, payload in enumerate(payloads):
            group = f"test-split-{in_parts}-{case}-{i}"
            sc.setJobGroup(group, case)
            try:
                out.append(eng.search(payload)["results"])
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            tasks = _tasks(sc, group) if i == 0 else tasks
        return out, tasks

    lone, lone_tasks = serve("lone")
    with contextlib.ExitStack() as load:
        load.enter_context(eng._serving())
        two, two_tasks = serve("two")
        for _ in range(parts - 1):
            load.enter_context(eng._serving())
        plan = eng._vector("any", K, None)._jdf.queryExecution().executedPlan().toString()
        assert ("Coalesce 1" in plan) == (parts > 1), plan
        loaded, loaded_tasks = serve("loaded")
    assert (lone_tasks, two_tasks, loaded_tasks) == (parts, max(1, parts // 2), 1)
    assert eng._in_flight == 0
    assert two == lone and loaded == lone
    for results, keep in ((lone[0], np.ones(len(ids), bool)), (lone[1], price < 4)):
        got = [(int(r["_id"]), r["score"]) for r in results]
        assert got == _reference(ids, mat, q, "cosine", keep)
