"""Each search mode keeps calling the module functions that perfbench's
traced run wraps by attribute (``perfbench/tracing.py``): ``api.query_vector``,
``api.knn``, ``bm25.bm25_scores``, ``fusion.score_fusion`` and
``DataFrame.collect``. A traced run fails when a per-layer metric gets no
samples, so a serving path that stops calling one of them is caught here.
After its window the traced run also replays the captured calls, so a call
whose arguments cannot be replayed is caught here too."""

from __future__ import annotations

from collections import defaultdict

import pytest


@pytest.fixture()
def counted(spark, monkeypatch):
    """A small eagerly built engine, and the calls each traced seam receives
    once it is built: their arguments per seam, and under ``"captured"``
    each call's (seam, original function, args, kwargs), as the tracer
    captures them for its replay."""
    from hybrid_vector_search_spark import api
    from hybrid_vector_search_spark.operators import bm25, fusion
    from hybrid_vector_search_spark.operators.embed import HashingEmbedder, embed_documents

    embedder = HashingEmbedder(16)
    corpus = embed_documents(
        spark.createDataFrame(
            [(1, "red apple", "red apple"), (2, "green pear", "green pear"),
             (3, "red pear", "ripe red pear")],
            "_id long, title string, description string",
        ),
        "description", "emb_description", embedder=embedder,
    )
    eng = api.SearchEngine(corpus, api.SearchConfig(), embedder=embedder)
    calls: dict[str, list[tuple]] = defaultdict(list)

    def count(owner, attr):
        orig = getattr(owner, attr)

        def wrapper(*args, **kwargs):
            calls[attr].append(args)
            calls["captured"].append((attr, orig, args, kwargs))
            return orig(*args, **kwargs)

        monkeypatch.setattr(owner, attr, wrapper)

    for owner, attr in ((api, "query_vector"), (api, "knn"), (bm25, "bm25_scores"),
                        (fusion, "score_fusion"), (type(corpus), "collect")):
        count(owner, attr)
    return eng, calls


def test_vector_request_calls_traced_seams(counted):
    eng, calls = counted
    assert eng.search({"mode": "vector", "description": "red pear"})["results"]
    assert calls["query_vector"] and calls["knn"] and calls["collect"]


def test_hybrid_request_calls_traced_seams(counted):
    from pyspark.sql import DataFrame

    from hybrid_vector_search_spark.operators.bm25 import TextStats

    eng, calls = counted
    payload = {"mode": "hybrid", "description": "red pear", "title": "red pear"}
    assert eng.search(payload)["results"]
    assert calls["query_vector"] and calls["knn"] and calls["collect"]
    assert [type(args[0]) for args in calls["bm25_scores"]] == [TextStats]
    (branches,) = [args[0] for args in calls["score_fusion"]]
    assert isinstance(branches, dict) and branches
    assert all(isinstance(b, DataFrame) for b in branches.values())


def test_hybrid_seams_replay_like_the_tracer(counted):
    """Replays hybrid's captured text-branch and fusion calls the way
    ``perfbench/tracing.py`` does after its window: each original is called
    again with the same arguments and its output written to the ``noop``
    format, over cached inputs for fusion. Text statistics whose checkpoint
    was freed, or arguments that cannot be replayed, fail here."""
    eng, calls = counted
    assert eng.search({"mode": "hybrid", "description": "red pear", "title": "red pear"})["results"]
    captured = {attr: (orig, args, kwargs) for attr, orig, args, kwargs in calls["captured"]}

    def force(df):
        df.write.format("noop").mode("overwrite").save()

    orig, args, kwargs = captured["bm25_scores"]
    scores = orig(*args, **kwargs)
    force(scores)
    assert scores.count() == 3
    orig, args, kwargs = captured["score_fusion"]
    inputs = {name: b.cache() for name, b in args[0].items()}
    for b in inputs.values():
        force(b)
    force(orig(inputs, *args[1:], **kwargs))
    for b in inputs.values():
        b.unpersist()


def test_fulltext_request_calls_traced_seams(counted):
    from hybrid_vector_search_spark.operators import bm25

    eng, calls = counted
    assert eng.search({"mode": "fulltext", "title": "red pear"})["results"]
    assert calls["collect"]
    assert callable(bm25.fulltext)  # the 262-query bench and the tracer use it
