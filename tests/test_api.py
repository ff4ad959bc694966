"""API facade contract tests — the reference's validation/clamping/response
semantics (backend/api.py:98-291) against a corpus embedded with the
deterministic HashingEmbedder."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from .conftest import SF_SMALL


@pytest.fixture(scope="module")
def engine(spark):
    from hybrid_vector_search_spark.api import SearchConfig, SearchEngine
    from hybrid_vector_search_spark.operators.embed import embed_documents
    from hybrid_vector_search_spark.sources import load_table

    docs = load_table(spark, SF_SMALL, "documents")
    corpus = embed_documents(docs, "text", "emb").cache()
    cfg = SearchConfig(
        id_col="doc_id",
        title_col="text",
        emb_col="emb",
        restaurant_col="source",
        price_col="n_chars",
    )
    return SearchEngine(corpus, cfg)


def test_invalid_mode_is_400(engine):
    from hybrid_vector_search_spark.api import ApiError

    with pytest.raises(ApiError) as e:
        engine.search({"mode": "nope", "description": "x"})
    assert e.value.status == 400


def test_vector_requires_description(engine):
    from hybrid_vector_search_spark.api import ApiError

    with pytest.raises(ApiError) as e:
        engine.search({"mode": "vector", "description": "   "})
    assert e.value.status == 400


def test_fulltext_requires_title(engine):
    from hybrid_vector_search_spark.api import ApiError

    with pytest.raises(ApiError) as e:
        engine.search({"mode": "fulltext"})
    assert e.value.status == 400


def test_bad_maxprice_is_400_but_bad_limit_is_not(engine):
    from hybrid_vector_search_spark.api import ApiError

    with pytest.raises(ApiError):
        engine.search({"description": "spark", "maxPrice": "not-a-number"})
    # reference silently defaults an unparseable limit to 5 (api.py:115-118)
    res = engine.search({"description": "spark fast table", "limit": "zzz"})
    assert res["mode"] == "vector"
    assert len(res["results"]) == 5


def test_limit_clamped_to_25(engine):
    res = engine.search({"description": "spark fast table", "limit": 999})
    assert len(res["results"]) == 25


def test_vector_search_finds_own_text(engine, spark):
    """Self-consistency: querying with a document's own text ranks that
    document first (deterministic embedder)."""
    from hybrid_vector_search_spark.sources import load_table

    row = load_table(spark, SF_SMALL, "documents").where(F.col("doc_id") == 7).head()
    res = engine.search({"mode": "vector", "description": row.text, "limit": 3})
    assert res["results"][0]["doc_id"] == "7"
    assert res["results"][0]["score"] > res["results"][1]["score"]


def test_vector_prefilter_restricts_results(engine):
    res = engine.search(
        {"mode": "vector", "description": "spark fast", "restaurant": "src3", "limit": 10}
    )
    assert len(res["results"]) == 10  # pre-filter: still k results when k exist
    assert all(r["source"] == "src3" for r in res["results"])


def test_blank_restaurant_means_no_filter(engine):
    a = engine.search({"description": "spark fast", "restaurant": "   ", "limit": 5})
    b = engine.search({"description": "spark fast", "limit": 5})
    assert [r["doc_id"] for r in a["results"]] == [r["doc_id"] for r in b["results"]]


def test_fulltext_and_hybrid_shapes(engine):
    ft = engine.search({"mode": "fulltext", "title": "spark fast table", "limit": 5})
    assert ft["results"] and "score" in ft["results"][0]
    assert "score_details" not in ft["results"][0]
    hy = engine.search(
        {"mode": "hybrid", "description": "spark fast table", "title": "spark fast", "limit": 5}
    )
    assert hy["results"] and "score_details" in hy["results"][0]
    det = hy["results"][0]["score_details"]
    assert set(det) == {"vector", "text"} and "normalized" in det["vector"]


def test_hybrid_atlas_compat_wire_shape(engine):
    """compat="atlas" emits the reference's exact scoreDetails document
    (reference backend/api.py:233 projection, consumed main.js:104-151): a
    single ``scoreDetails`` key (no bare score/score_details), combined
    ``value``, and per-pipeline entries named searchOne/searchTwo carrying
    inputPipelineRawScore + sigmoid-normalized ``value``."""
    import math

    payload = {"mode": "hybrid", "description": "spark fast table", "title": "spark fast", "limit": 5}
    native = engine.search(payload)
    atlas = engine.search(payload, compat="atlas")
    assert atlas["mode"] == "hybrid" and atlas["results"]
    for nat, doc in zip(native["results"], atlas["results"]):
        assert "score" not in doc and "score_details" not in doc
        sd = doc["scoreDetails"]
        # top-level: the documented Atlas field set, byte-shape
        assert set(sd) == {"value", "description", "normalization", "combination", "details"}
        assert sd["value"] == pytest.approx(nat["score"])
        assert sd["normalization"] == "sigmoid"
        assert sd["combination"]["method"] == "custom expression"
        # the combination expression names the pipelines the reference uses
        assert '"$$searchOne"' in sd["combination"]["expression"].replace("'", '"') or \
            "$$searchOne" in sd["combination"]["expression"]
        assert "$$searchTwo" in sd["combination"]["expression"]
        by_name = {}
        for det in sd["details"]:
            assert set(det) == {
                "inputPipelineName", "inputPipelineRawScore", "weight", "value", "details",
            }
            assert det["details"] == [] and det["weight"] == 1.0
            # value is the sigmoid of the raw score — what $$name binds to
            assert det["value"] == pytest.approx(
                1.0 / (1.0 + math.exp(-det["inputPipelineRawScore"]))
            )
            by_name[det["inputPipelineName"]] = det
        assert set(by_name) <= {"searchOne", "searchTwo"}
        # per-branch raw scores match the native shape (absent branch → no entry)
        nat_det = nat["score_details"]
        for branch, name in (("vector", "searchOne"), ("text", "searchTwo")):
            if nat_det[branch]["raw"] is None:
                assert name not in by_name
            else:
                assert by_name[name]["inputPipelineRawScore"] == pytest.approx(
                    nat_det[branch]["raw"]
                )
        # the reference frontend's exact consumer logic resolves all 3 scores
        details = sd["details"] if isinstance(sd["details"], list) else []
        find = lambda n: next(
            (d for d in details
             if isinstance(d.get("inputPipelineName"), str)
             and d["inputPipelineName"].lower() == n.lower()),
            None,
        )
        assert isinstance(sd["value"], float)  # "Score combinado"
        vd, td = find("searchOne"), find("searchTwo")
        assert vd is None or isinstance(vd.get("value"), float)
        assert td is None or isinstance(td.get("value"), float)
    # round-trips through JSON untouched (wire-safe document)
    import json as _json

    assert _json.loads(_json.dumps(atlas)) == atlas


def test_engine_level_compat_and_validation(engine, spark):
    from hybrid_vector_search_spark.api import ApiError, SearchConfig, SearchEngine

    with pytest.raises(ApiError):
        engine.search({"mode": "vector", "description": "x"}, compat="nope")
    with pytest.raises(ValueError):
        SearchEngine(engine.df, engine.cfg, compat="nope")
    eng2 = SearchEngine(engine.df, engine.cfg, compat="atlas")
    hy = eng2.search(
        {"mode": "hybrid", "description": "spark fast", "title": "spark", "limit": 3}
    )
    assert hy["results"] and "scoreDetails" in hy["results"][0]
    # vector mode is shape-identical across compat modes (reference projects
    # a bare score there, backend/api.py:192-199)
    v = eng2.search({"mode": "vector", "description": "spark fast", "limit": 3})
    assert v["results"] and "score" in v["results"][0] and "scoreDetails" not in v["results"][0]


def test_fusion_missing_branch_contributes_zero(spark):
    """A doc found by only one branch still surfaces (full-outer alignment)
    and the missing branch contributes 0 — coalesce(σ(s), 0), NOT σ(0)=0.5
    (SURVEY.md §7.5.3)."""
    import math

    from hybrid_vector_search_spark.operators.fusion import score_fusion

    vec = spark.createDataFrame([(1, 0.9), (2, 0.8)], "id long, score double")
    txt = spark.createDataFrame([(2, 3.0), (3, 2.0)], "id long, score double")
    out = {
        r.id: r
        for r in score_fusion(
            {"vector": vec, "text": txt}, {"vector": 10.0, "text": 1.0},
            include_details=True, round_dp=None,
        ).collect()
    }
    sig = lambda s: 1.0 / (1.0 + math.exp(-s))
    assert set(out) == {1, 2, 3}
    assert out[1].score == pytest.approx(10 * sig(0.9))  # text missing → +0
    assert out[2].score == pytest.approx(10 * sig(0.8) + sig(3.0))
    assert out[3].score == pytest.approx(sig(2.0))  # vector missing → +0
    assert out[3].score_details.vector.raw is None
    assert out[3].score_details.vector.normalized == 0.0


def test_restaurants_endpoint(engine):
    vals = engine.restaurants()
    assert vals == sorted(vals) and "src0" in vals


def test_in_flight_count_survives_thread_switches(engine):
    """The engine's count of calls in flight, which sets how many tasks a
    kNN scan uses, loses no update when many threads enter and leave at
    once."""
    import sys
    import threading

    seen: list[int] = []

    def enter_and_leave():
        for _ in range(2000):
            with engine._serving():
                seen.append(engine._in_flight)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=enter_and_leave) for _ in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert engine._in_flight == 0
    assert len(seen) == 16 * 2000 and 1 <= min(seen) and max(seen) <= 16


def test_dim_mismatch_fails_loudly(engine, spark):
    """A wrong-dimension query vector raises instead of silently returning
    NULL scores (zip_with null-pads otherwise)."""
    import pytest as _pytest

    from hybrid_vector_search_spark.operators.knn import knn
    from hybrid_vector_search_spark.sources import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    with _pytest.raises(ValueError, match="dims"):
        knn(emb, [0.1] * 32, 3, expected_dim=64)


def test_zero_query_vector_is_400(engine):
    """A description with no tokens embeds to the zero vector, for which
    cosine is undefined: a 400, not an error from inside a Spark job."""
    from hybrid_vector_search_spark.api import ApiError

    for mode in ("vector", "hybrid"):
        with pytest.raises(ApiError) as e:
            engine.search({"mode": mode, "description": "!!!", "title": "spark"})
        assert e.value.status == 400


def _tiny_corpus(spark, rows):
    from hybrid_vector_search_spark.operators.embed import HashingEmbedder, embed_documents

    embedder = HashingEmbedder(16)
    df = spark.createDataFrame(rows, "_id long, title string, description string")
    return embed_documents(df, "description", "emb_description", embedder=embedder), embedder


def test_zero_norm_corpus_rows_never_returned(spark):
    from hybrid_vector_search_spark.api import SearchConfig, SearchEngine

    corpus, embedder = _tiny_corpus(
        spark, [(1, "red apple", "red apple"), (2, "blank", ""), (3, "green pear", "green pear")]
    )
    eng = SearchEngine(corpus, SearchConfig(), embedder=embedder)
    res = eng.search({"mode": "vector", "description": "red apple", "limit": 25})
    assert [r["_id"] for r in res["results"]] == ["1", "3"]
    hy = eng.search({"mode": "hybrid", "description": "red apple", "title": "blank", "limit": 25})
    blank = [r for r in hy["results"] if r["_id"] == "2"]
    assert blank and blank[0]["score_details"]["vector"]["raw"] is None


def test_each_row_scored_with_its_own_norm(spark):
    """Each row's cosine score divides by that row's own stored norm."""
    from hybrid_vector_search_spark import api

    class Fixed:  # a query embedding that is the same for every text
        def embed_one(self, text):
            return [0.6, 0.8]

    corpus = spark.createDataFrame(
        [(1, "a", [3.0, 0.0]), (2, "b", [0.0, 0.5]), (3, "c", [1.0, 2.0])],
        "_id long, title string, emb_description array<float>",
    )
    payload = {"mode": "vector", "description": "anything", "limit": 25}
    res = api.SearchEngine(corpus, api.SearchConfig(), embedder=Fixed()).search(payload)
    assert [r["score"] for r in res["results"]] == [0.991935, 0.9, 0.8]


def test_duplicate_ids_rejected_at_build(spark):
    """Duplicate ids mix documents' BM25 postings and norms, so the engine
    refuses them: at construction when eager, at first use when lazy."""
    from hybrid_vector_search_spark.api import SearchConfig, SearchEngine

    corpus, embedder = _tiny_corpus(
        spark, [(1, "red apple", "red apple"), (1, "green pear", "green pear")]
    )
    with pytest.raises(ValueError, match="unique"):
        SearchEngine(corpus, SearchConfig(), embedder=embedder)
    for payload in ({"mode": "fulltext", "title": "red pear"}, {"description": "red pear"}):
        lazy = SearchEngine(corpus, SearchConfig(), embedder=embedder, eager=False)
        with pytest.raises(ValueError, match="unique"):
            lazy.search(payload)


def test_lazy_fulltext_engine_builds_no_vector_table(spark):
    """A lazy engine that serves only fulltext checks its ids and builds its
    text index, but leaves the vector table unbuilt: its checkpoint is made
    by the first vector request."""
    from hybrid_vector_search_spark.api import SearchConfig, SearchEngine

    def stored():
        return {info.id() for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()}

    corpus, embedder = _tiny_corpus(
        spark, [(1, "red apple", "red apple"), (2, "green pear", "green pear")]
    )
    lazy = SearchEngine(corpus, SearchConfig(), embedder=embedder, eager=False)
    assert lazy.search({"mode": "fulltext", "title": "red pear"})["results"]
    after_fulltext = stored()
    assert lazy._vector_table is None
    assert lazy.search({"description": "red pear"})["results"]
    table_rdd = lazy._vector_table._jdf.queryExecution().analyzed().rdd().id()
    assert table_rdd in stored() and table_rdd not in after_fulltext


def _assert_fulltext_parity(eng, corpus, title, extra, ref_filter):
    """The engine's fulltext results equal ``bm25.fulltext`` over the same
    corpus and freshly built statistics: the same ids in the same order, and
    the same scores (exactly, for at most two distinct query terms, whose
    sum does not depend on the order of addition)."""
    from hybrid_vector_search_spark.operators import bm25

    cfg = eng.cfg
    limit = extra.get("limit", 5)
    got = eng.search({"mode": "fulltext", "title": title, **extra})["results"]
    ref = bm25.fulltext(
        corpus,
        title,
        limit,
        id_col=cfg.id_col,
        text_col=cfg.title_col,
        stats=bm25.build_text_stats(corpus, cfg.id_col, cfg.title_col),
        residual_filter=ref_filter,
    ).collect()
    assert [r[cfg.id_col] for r in got] == [str(r[cfg.id_col]) for r in ref]
    scores, ref_scores = [r["score"] for r in got], [r.score for r in ref]
    if len(set(bm25._py_tokens(title))) <= 2:
        assert scores == ref_scores
    else:
        assert scores == pytest.approx(ref_scores, abs=1e-6)
    return got


@pytest.mark.parametrize(
    "title, extra, ref_filter",
    [
        ("spark spark", {"limit": 25}, None),
        ("SpArK, fast!", {"limit": 25}, None),
        ("spark zzzunseen", {"limit": 25}, None),
        ("!!!", {"limit": 25}, None),
        ("spark fast", {"restaurant": "src3", "limit": 25}, lambda: F.col("source") == "src3"),
        ("join window", {"maxPrice": 500, "limit": 25}, lambda: F.col("n_chars") < 500.0),
        ("spark fast table value", {"limit": 25}, None),
        ("table", {}, None),
    ],
)
def test_engine_fulltext_matches_bm25_fulltext(engine, title, extra, ref_filter):
    got = _assert_fulltext_parity(
        engine, engine.df, title, extra, ref_filter() if ref_filter else None
    )
    assert (len(got) == 0) == (title == "!!!")


def test_engine_fulltext_matches_bm25_fulltext_tiny(spark):
    from hybrid_vector_search_spark.api import SearchConfig, SearchEngine

    corpus, embedder = _tiny_corpus(
        spark,
        [(1, "Red apple", "red apple"), (2, "green pear", "green pear"),
         (3, "red pear, ripe red pear", "ripe red pear"), (4, "", "blank"),
         (5, "apple pie", "apple pie")],
    )
    eng = SearchEngine(corpus, SearchConfig(), embedder=embedder)
    for title in ("apple apple", "RED; pear", "kiwi", "!!!", "red green pear apple"):
        _assert_fulltext_parity(eng, corpus, title, {"limit": 25}, None)


# ------------------------------------------------------------ HTTP binding


@pytest.fixture(scope="module")
def client(engine):
    flask = pytest.importorskip("flask")  # noqa: F841 - binding is optional
    from hybrid_vector_search_spark.http_app import create_app

    app = create_app(engine)
    app.testing = True
    return app.test_client()


def test_http_restaurants_returns_sorted_list(client, engine):
    resp = client.get("/api/restaurants")
    assert resp.status_code == 200
    assert resp.get_json() == engine.restaurants()


def test_http_search_vector_roundtrip(client):
    resp = client.post(
        "/api/search", json={"mode": "vector", "description": "fast spark table", "limit": 3}
    )
    assert resp.status_code == 200
    body = resp.get_json()
    assert body["mode"] == "vector"
    assert len(body["results"]) == 3
    assert all("score" in r for r in body["results"])


def test_http_search_maps_apierror_to_status_and_message(client):
    resp = client.post("/api/search", json={"mode": "nope", "description": "x"})
    assert resp.status_code == 400
    assert resp.get_json() == {"message": "Modo de búsqueda no válido."}

    resp = client.post("/api/search", json={"mode": "vector", "description": "  "})
    assert resp.status_code == 400
    assert resp.get_json() == {
        "message": "La descripción es obligatoria para la búsqueda seleccionada."
    }

    resp = client.post(
        "/api/search",
        json={"mode": "vector", "description": "x", "maxPrice": "not-a-price"},
    )
    assert resp.status_code == 400
    assert resp.get_json() == {"message": "El formato del precio máximo no es válido."}


def test_http_search_atlas_compat_param(client):
    """?compat=atlas re-shapes the hybrid response into the reference's
    scoreDetails wire document; an unknown value is a 400 like the other
    validation failures."""
    payload = {"mode": "hybrid", "description": "fast spark table", "title": "spark", "limit": 3}
    resp = client.post("/api/search?compat=atlas", json=payload)
    assert resp.status_code == 200
    body = resp.get_json()
    assert body["results"] and "scoreDetails" in body["results"][0]
    assert "score" not in body["results"][0]
    det = body["results"][0]["scoreDetails"]
    assert {"value", "details"} <= set(det)

    assert client.post("/api/search?compat=bogus", json=payload).status_code == 400


def test_http_search_empty_body_defaults_to_vector_400(client):
    # reference: missing JSON body → mode defaults to vector → description required
    resp = client.post("/api/search", content_type="application/json", data="")
    assert resp.status_code == 400


def test_http_index_serves_ui(client):
    """The demo page must ship the reference UI's observable pieces: the two
    API endpoints, the three search modes, and the hybrid scoreDetails
    unpacking (searchOne/searchTwo with the rawScore fallback)."""
    resp = client.get("/")
    assert resp.status_code == 200
    assert resp.content_type.startswith("text/html")
    html = resp.get_data(as_text=True)
    for needle in (
        "/api/restaurants",
        "/api/search",
        'value="vector"',
        'value="hybrid"',
        'value="fulltext"',
        "scoreDetails",
        "score_details",  # the engine's own hybrid shape must render too
        "searchone",
        "searchtwo",
        "inputPipelineRawScore",
    ):
        assert needle in html, needle


def test_lazy_engine_runs_no_jobs_at_construction(spark):
    """eager=False defers the stats persist and dim probe to first use
    (r5 verdict nit #4) — construction must not touch the cluster."""
    from hybrid_vector_search_spark.api import SearchConfig, SearchEngine

    df = spark.createDataFrame(
        [(1, "alpha beta", "d", [1.0, 0.0])],
        "_id long, title string, description string, emb_description array<double>",
    )
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    eng = SearchEngine(df, SearchConfig(), eager=False)
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert after == before, "lazy construction ran a Spark job"
    # first use still works and the dim check still fires
    assert eng._dim == 2

    # a lazy engine's first search builds its indexes and answers exactly
    # as an eagerly built one
    corpus, embedder = _tiny_corpus(
        spark, [(1, "red apple", "red apple"), (2, "green pear", "green pear"),
                (3, "red pear", "ripe red pear")]
    )
    lazy = SearchEngine(corpus, SearchConfig(), embedder=embedder, eager=False)
    payload = {"mode": "vector", "description": "red pear", "limit": 25}
    first = lazy.search(payload)
    assert first == SearchEngine(corpus, SearchConfig(), embedder=embedder).search(payload)
    assert len(first["results"]) == 3
