"""Prepared artifacts: the one place the engine keeps state between queries.

The reference builds its indexes once, in a separate step (reference
indexes.py:54-88), and every request reads them. The queries declared in
``__spark_entry__.py`` do the same lazily: the first call at an ``sf_dir``
builds an artifact (a table schema, a persisted BM25 index, an ANN layout, a
staged stream source, a prepared or materialized report) and repeat calls
reuse it. Every such artifact lives in this module's registry under one
policy:

- one entry per kind. A lookup that misses releases the kind's previous
  entry (``release`` unpersists the DataFrames it holds and frees their
  checkpoints) before building;
- an entry is reused only while its ``sf_dir``, the ``(mtime_ns, size)`` of
  that sf_dir's table files, and the SparkContext's ``applicationId`` all
  match, so a rewritten input or a new SparkContext (whose checkpoints and
  cached blocks are gone) rebuilds instead of replaying stale state;
- an entry also records the DataFrame-holding entries its build read (an
  ANN report's plan reads the cached corpus and exact ground truth). Once
  one of those is replaced, and so released, the entry misses too: its plan
  would otherwise rescan and recompute what the released entry had cached;
- every build is timed and logged, so a cold call shows what it built.

Files (parquet reports, staged sources, index layouts) go under one session
temp dir, removed at interpreter exit. Lookups come from one query thread
only (the serving path, api.SearchEngine, keeps per-instance state), so the
registry takes no lock.
"""

from __future__ import annotations

import atexit
import dataclasses
import functools
import os
import shutil
import tempfile
from typing import Any, Callable, NamedTuple

from pyspark.sql import DataFrame, SparkSession

from .observability import get_logger, timed


class _Entry(NamedTuple):
    sf_dir: str
    identity: tuple
    app_id: str
    value: Any
    deps: tuple  # (kind, _Entry) of each DataFrame-holding entry the build read


_entries: dict[str, _Entry] = {}
_building: list[list] = []  # per build in progress, the deps it has read so far


def input_identity(sf_dir: str) -> tuple:
    """``(path, mtime_ns, size)`` of every file of every ``*.parquet`` table in
    ``sf_dir``. A directory-backed table contributes each file inside it, so
    rewriting one part file in place changes the identity too."""
    try:
        tables = sorted(e.name for e in os.scandir(sf_dir) if e.name.endswith(".parquet"))
    except OSError:
        return ()
    files = []
    for name in tables:
        top = os.path.join(sf_dir, name)
        if os.path.isdir(top):
            files += sorted(os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        else:
            files.append(top)
    out = []
    for f in files:
        try:
            st = os.stat(f)
            out.append((f, st.st_mtime_ns, st.st_size))
        except OSError:
            out.append((f, None, None))
    return tuple(out)


def _frames(value: Any):
    """The DataFrames an artifact holds: the value itself, the items of a
    tuple or list, or the fields of a dataclass (e.g. bm25.TextStats)."""
    if isinstance(value, DataFrame):
        yield value
    elif isinstance(value, (tuple, list)):
        for item in value:
            yield from _frames(item)
    elif dataclasses.is_dataclass(value) and not isinstance(value, type):
        for field in dataclasses.fields(value):
            yield from _frames(getattr(value, field.name))


def release(value: Any) -> None:
    """Unpersist every DataFrame an artifact holds. ``unpersist`` leaves a
    ``localCheckpoint``'s blocks in place, so a frame whose plan is an RDD
    scan (a checkpoint) also unpersists that RDD."""
    for df in _frames(value):
        df.unpersist()
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(True)


def _current(entry: _Entry) -> bool:
    """Whether every entry ``entry``'s build read is still the held one."""
    return all(_entries.get(kind) is dep and _current(dep) for kind, dep in entry.deps)


def get(spark: SparkSession, kind: str, sf_dir: str, build: Callable[[], Any]) -> Any:
    """The ``kind`` artifact for ``sf_dir``: the held entry when its sf_dir,
    input identity and applicationId match and the entries its build read
    are still held, else ``build()``'s result, which replaces (and releases)
    the kind's previous entry."""
    key = (sf_dir, input_identity(sf_dir), spark.sparkContext.applicationId)
    entry = _entries.get(kind)
    if entry is None or entry[:3] != key or not _current(entry):
        if entry is not None:
            del _entries[kind]
            release(entry.value)
        _building.append([])
        try:
            with timed(get_logger("artifacts"), f"artifact {kind} build for {sf_dir}"):
                value = build()
        finally:
            deps = _building.pop()
        entry = _entries[kind] = _Entry(*key, value, tuple(deps))
    if _building and any(True for _ in _frames(entry.value)):
        _building[-1].append((kind, entry))
    return entry.value


@functools.cache
def tmpdir() -> str:
    """The session temp dir, created on first use and removed at exit."""
    d = tempfile.mkdtemp(prefix="hvs_session_")
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


def path(kind: str, sf_dir: str) -> str:
    """A stable path for ``kind``'s files at ``sf_dir`` under the session temp dir."""
    return f"{tmpdir()}/{kind}/{sf_dir.strip('/').replace('/', '_')}"


def materialize(spark: SparkSession, kind: str, sf_dir: str, df: DataFrame) -> DataFrame:
    """Write ``df`` to parquet once and serve reads from the file. A
    ``.cache()``d plan's blocks (and its localCheckpoint inputs) can be evicted
    under memory pressure, silently turning a 0.5 s cached collect back into
    a multi-second build; a parquet-backed result is eviction-immune."""
    out = path(kind, sf_dir)
    df.write.mode("overwrite").parquet(out)
    return spark.read.parquet(out)


def prepared(kind: str):
    """Decorator: build the query's DataFrame once per sf_dir and reuse the
    lazy plan. Every collect still re-executes against the data; only the
    driver-side construction and analysis are amortized (measured at sf0.1:
    ~0.05 s to execute a prepared ANN recall report against ~1 s to analyze a
    fresh copy of the same plan)."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        @functools.wraps(fn)
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            return get(spark, kind, sf_dir, lambda: fn(spark, sf_dir))

        return wrapped

    return deco


def memo(
    name: str, fn: Callable[[SparkSession, str], DataFrame]
) -> Callable[[SparkSession, str], DataFrame]:
    """Materialize-once wrapper for builders that do multi-second work during
    DataFrame construction (streaming folds, iterative graph fixpoints). The
    first call per sf_dir runs the full self-contained computation; repeats
    read its parquet-backed result. This memoizes one query's own output, not
    a shared intermediate, so the query's oracle stays independently
    replayable."""
    kind = f"memo_{name}"

    @prepared(kind)
    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        return materialize(spark, kind, sf_dir, fn(spark, sf_dir))

    wrapped.__name__ = kind
    wrapped.__wrapped__ = fn  # tests and introspection reach the raw builder
    return wrapped
