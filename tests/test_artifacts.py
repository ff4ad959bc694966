"""The artifact registry (hybrid_vector_search_spark/artifacts.py): one entry
per kind, reused only while sf_dir, input identity and applicationId match;
plus the guard that keeps it the engine's only cache mechanism."""

from __future__ import annotations

import ast
import os
from pathlib import Path
from types import SimpleNamespace

import pytest

from .conftest import REPO, SF_SMALL


def _fake_spark(app_id: str = "app-1"):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


@pytest.fixture
def registry(monkeypatch):
    """An empty registry for the test, the real one restored after."""
    from hybrid_vector_search_spark import artifacts

    monkeypatch.setattr(artifacts, "_entries", {})
    return artifacts


def _counting_build(value_of=lambda n: object()):
    calls = []

    def build():
        calls.append(1)
        return value_of(len(calls))

    return build, calls


def test_repeat_lookup_reuses_without_building(registry, tmp_path):
    spark = _fake_spark()
    build, calls = _counting_build()
    first = registry.get(spark, "k", str(tmp_path), build)
    second = registry.get(spark, "k", str(tmp_path), build)
    assert second is first
    assert len(calls) == 1


def test_other_sf_dir_releases_old_value_once(registry, monkeypatch, tmp_path):
    released = []
    monkeypatch.setattr(registry, "release", released.append)
    spark = _fake_spark()
    a, b = tmp_path / "a", tmp_path / "b"
    a.mkdir()
    b.mkdir()
    build, calls = _counting_build(lambda n: f"value{n}")
    assert registry.get(spark, "k", str(a), build) == "value1"
    assert registry.get(spark, "k", str(b), build) == "value2"
    assert released == ["value1"]
    # a lookup of ANOTHER kind never touches this one
    registry.get(spark, "other", str(a), lambda: "x")
    assert released == ["value1"]
    assert len(calls) == 2


def test_new_application_rebuilds(registry, tmp_path):
    build, calls = _counting_build()
    first = registry.get(_fake_spark("app-1"), "k", str(tmp_path), build)
    second = registry.get(_fake_spark("app-2"), "k", str(tmp_path), build)
    assert second is not first
    assert len(calls) == 2


@pytest.mark.parametrize("backing", ["file", "directory"])
def test_inplace_rewrite_rebuilds(registry, tmp_path, backing):
    spark = _fake_spark()
    sf_dir = str(tmp_path)
    if backing == "file":
        target = tmp_path / "orders.parquet"
    else:
        (tmp_path / "orders.parquet").mkdir()
        target = tmp_path / "orders.parquet" / "part-00000.parquet"
    target.write_bytes(b"x" * 10)
    (tmp_path / "region.parquet").write_bytes(b"r")
    build, calls = _counting_build()
    first = registry.get(spark, "k", sf_dir, build)
    assert registry.get(spark, "k", sf_dir, build) is first
    target.write_bytes(b"y" * 20)  # rewritten in place: same path, new identity
    second = registry.get(spark, "k", sf_dir, build)
    assert second is not first
    assert len(calls) == 2
    assert registry.get(spark, "k", sf_dir, build) is second


def test_entry_misses_once_a_frame_it_read_is_replaced(registry, spark, tmp_path):
    """A report whose plan reads a cached corpus must not outlive that corpus:
    once another sf_dir's lookup replaces (and unpersists) the corpus, the
    report rebuilds over the current one. A read entry holding no DataFrame
    (a schema, a staged path) is not a dependency."""
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    os.mkdir(a)
    os.mkdir(b)

    def report(sf_dir):
        return registry.get(spark, "report", sf_dir, lambda: (
            registry.get(spark, "schema", sf_dir, lambda: f"schema of {sf_dir}"),
            registry.get(spark, "corpus", sf_dir, lambda: spark.range(3).cache()),
        ))

    first = report(a)
    assert report(a) is first
    registry.get(spark, "schema", b, lambda: f"schema of {b}")
    assert report(a) is first
    registry.get(spark, "corpus", b, lambda: spark.range(3).cache())
    assert not first[1].is_cached  # released with the corpus entry it read
    second = report(a)
    assert second is not first
    assert second[1] is registry._entries["corpus"].value
    assert second[1].is_cached
    assert report(a) is second


def test_release_unpersists_nested_dataframes(spark):
    from hybrid_vector_search_spark import artifacts
    from hybrid_vector_search_spark.operators.bm25 import TextStats

    dfs = [spark.range(3).cache() for _ in range(5)]
    for df in dfs:
        df.count()
    artifacts.release(("index", dfs[0], [TextStats(*dfs[1:])]))
    assert all(not df.is_cached for df in dfs)


def test_release_frees_a_checkpointed_entry(registry, spark, tmp_path):
    """``unpersist`` leaves a localCheckpoint's blocks in place: a replaced
    entry that holds a checkpoint must free its RDD too."""
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    os.mkdir(a)
    os.mkdir(b)
    held = registry.get(spark, "ckpt", a, lambda: spark.range(1000).localCheckpoint(eager=True))
    rdd_id = held._jdf.queryExecution().analyzed().rdd().id()

    def stored():
        return {info.id() for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()}

    assert rdd_id in stored()
    registry.get(spark, "ckpt", b, lambda: spark.range(3).cache())
    assert rdd_id not in stored()
    registry.release(registry._entries.pop("ckpt").value)


# One query per artifact family: BM25 index, ANN corpus/layout/report, graph
# index, profile aggregate + materialized report, memo, staged stream source,
# staged export, materialized components, BPE training, media fingerprints.
_ROTATION = [
    "fulltext_bm25",
    "ann_ivf_topk",
    "knn_graph_search",
    "orders_profile",
    "dedup_components",
    "stream_heavy_hitters",
    "jsonl_roundtrip",
    "dedup_canonical_shared",
    "bpe_learn_merges",
    "image_phash_neardup",
]


@pytest.fixture(scope="module")
def sf_link(tmp_path_factory):
    """A second sf_dir holding the same data as sf0.001."""
    link = tmp_path_factory.mktemp("rotation") / "sf"
    os.symlink(SF_SMALL, link)
    return str(link)


def _rows(df) -> list[str]:
    return sorted(repr(tuple(r)) for r in df.collect())


@pytest.mark.parametrize("name", _ROTATION)
def test_rotation_returns_same_answer(spark, sf_link, name):
    """sf0.001 → another sf_dir → sf0.001: the rotation releases and
    rebuilds the family's artifacts, and the rebuilt answer is the first."""
    import __spark_entry__ as e
    from hybrid_vector_search_spark import artifacts

    fn = e.queries()[name]
    first = _rows(fn(spark, SF_SMALL))
    assert first
    assert _rows(fn(spark, sf_link)) == first  # same data, new sf_dir
    assert any(x.sf_dir == sf_link for x in artifacts._entries.values())
    assert _rows(fn(spark, SF_SMALL)) == first


def test_ann_report_follows_its_corpus_across_sf_dirs(spark, sf_link):
    """ivf at sf0.001, lsh at another sf_dir, ivf at sf0.001 again: the lsh
    run replaces the shared ANN corpus, so the ivf report must be rebuilt
    over the re-cached corpus rather than returned with a plan over the
    released one."""
    import __spark_entry__ as e
    from hybrid_vector_search_spark import artifacts

    qs = e.queries()
    first = qs["ann_ivf_topk"](spark, SF_SMALL)
    rows = _rows(first)
    qs["ann_lsh_topk"](spark, sf_link)
    assert artifacts._entries["ann_corpus"].sf_dir == sf_link
    again = qs["ann_ivf_topk"](spark, SF_SMALL)
    assert again is not first
    corpus = artifacts._entries["ann_corpus"]
    assert corpus.sf_dir == SF_SMALL and corpus.value.is_cached
    assert dict(artifacts._entries["ann_report_ivf"].deps)["ann_corpus"] is corpus
    assert _rows(again) == rows
    assert qs["ann_ivf_topk"](spark, SF_SMALL) is again


def _empty_container(node: ast.AST | None) -> bool:
    if isinstance(node, ast.Dict):
        return not node.keys
    if isinstance(node, ast.List):
        return not node.elts
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Name)
        and node.func.id in ("dict", "list")
        and not node.args
        and not node.keywords
    )


def test_no_module_level_caches_outside_artifacts():
    """Prepared state has ONE home (artifacts.py). A module-level name bound
    to an empty dict or list is how a hand-rolled per-sf_dir cache starts;
    observability.py's is its logger registry, not a data cache."""
    pkg = REPO / "hybrid_vector_search_spark"
    files = [REPO / "__spark_entry__.py", *sorted(pkg.rglob("*.py"))]
    exempt = {pkg / "artifacts.py", pkg / "observability.py"}
    found = []
    for path in files:
        if path in exempt:
            continue
        for node in ast.parse(Path(path).read_text()).body:
            if isinstance(node, ast.Assign):
                targets, value = node.targets, node.value
            elif isinstance(node, ast.AnnAssign):
                targets, value = [node.target], node.value
            else:
                continue
            if _empty_container(value):
                names = ", ".join(ast.unparse(t) for t in targets)
                found.append(f"{path.relative_to(REPO)}:{node.lineno} {names}")
    assert not found, "module-level caches outside artifacts.py: " + "; ".join(found)
