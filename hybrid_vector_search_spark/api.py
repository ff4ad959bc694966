"""Public query API — the reference's /api/search and /api/restaurants
endpoints re-expressed over Spark DataFrames.

Validation/clamping/response contract mirrors reference backend/api.py:98-291
exactly:

- mode: lowered, default "vector", else 400 (api.py:102-104)
- description required (post-strip) for vector/hybrid (api.py:109-110)
- title required (post-strip) for hybrid/fulltext (api.py:112-113)
- limit: int parse failure silently → 5; clamp [1, 25] (api.py:115-119)
- available: bool() coercion when present (api.py:122-124)
- maxPrice: float parse failure → 400 (api.py:126-131); filter is STRICT <
  (api.py:37-38)
- restaurant: blank after strip ⇒ no filter (api.py:133-137)
- vector mode: filter applied INSIDE the ANN stage (pre-filter, api.py:178-180)
- hybrid: filter pre-applied to the vector branch only + residual re-filter
  AFTER fusion (api.py:238-239); text branch runs unfiltered
- fulltext: residual filter AFTER scoring (api.py:265-266)
- hybrid projects scoreDetails (not a bare score), vector/fulltext project
  score (api.py:192-199, 242-250, 269-277)
- response: {"mode": mode, "results": [sanitized docs]} (api.py:291)

The engine is storage-agnostic: a SearchConfig names which columns play the
roles of id/title/embedding/filter fields, so the same facade serves the
reference's product_detail schema or any corpus with an embedding column.

Like the reference's index build (indexes.py:54-86), the engine builds its
serving state once and every request reads it: the text index (postings with
their BM25 weights), a fulltext table of per-document term weights, and a
vector table of the corpus columns the vector path reads with each row's
vector norm, spread over the cores. A request is then one scan, with no
join, of the table its mode reads.
"""

from __future__ import annotations

import contextlib
import json
import threading
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .functions.vector import norm, norm_value
from .observability import get_logger, timed
from .operators import bm25 as bm25_op
from .operators import fusion as fusion_op
from .operators.embed import HashingEmbedder, query_vector
from .operators.knn import clamp_limit, knn

MODES = {"vector", "hybrid", "fulltext"}
COMPAT_MODES = {"native", "atlas"}
# the vector table's per-row norm column (see SearchEngine._build_vector_table)
_NORM = "__norm"


# reference backend/api.py:210-214 names its two fusion sub-pipelines
# searchOne (vector) / searchTwo (text); the frontend looks details up by
# exactly these names (main.js:108-112)
ATLAS_PIPELINE_NAMES = {"vector": "searchOne", "text": "searchTwo"}
_ATLAS_BRANCH_ORDER = ("vector", "text")
_ATLAS_DESCRIPTION = (
    "the value calculated by combining the scores (either normalized or raw) "
    "across input pipelines from which this document is output from:"
)


def _atlas_score_details(score: Any, details: dict[str, Any]) -> dict[str, Any]:
    """Re-shape the engine's per-branch score_details struct into the
    reference's $scoreFusion scoreDetails wire format (backend/api.py:233
    requests it; frontend main.js:104-151 consumes it): a combined ``value``
    plus one ``details`` entry per input pipeline THAT RETURNED the document,
    each carrying ``inputPipelineName`` / ``inputPipelineRawScore`` /
    ``weight`` / ``value`` (the sigmoid-normalized score the combination
    expression refers to as ``$$searchOne`` etc.)."""
    terms: list[Any] = []
    det_list: list[dict[str, Any]] = []
    for branch in _ATLAS_BRANCH_ORDER:
        d = details.get(branch)
        if d is None:
            continue
        name = ATLAS_PIPELINE_NAMES.get(branch, branch)
        w = float(d.get("weight", 1.0))
        ref = f"$${name}"
        terms.append({"$multiply": [ref, w]} if w != 1.0 else ref)
        if d.get("raw") is None:  # pipeline did not return this document
            continue
        det_list.append(
            {
                "inputPipelineName": name,
                "inputPipelineRawScore": float(d["raw"]),
                "weight": 1.0,  # expression combination: weighting lives in the expression
                "value": float(d["normalized"]),
                "details": [],
            }
        )
    return {
        "value": float(score) if score is not None else None,
        "description": _ATLAS_DESCRIPTION,
        "normalization": "sigmoid",
        "combination": {
            "method": "custom expression",
            "expression": json.dumps({"$sum": terms}),
        },
        "details": det_list,
    }

# reference backend/api.py:92,101 — a module logger named "api" that records
# each pipeline before executing it; see observability.py for the contract
_LOG = get_logger("api")


class ApiError(Exception):
    """Maps to the reference's 4xx/5xx JSON error responses."""

    def __init__(self, status: int, message: str):
        super().__init__(message)
        self.status = status
        self.message = message


@dataclass
class SearchConfig:
    id_col: str = "_id"
    title_col: str = "title"
    text_col: str = "description"  # the embedded text (reference: product.description)
    emb_col: str = "emb_description"
    available_col: str | None = None  # reference: product.available
    price_col: str | None = None  # reference: product.price.amount
    restaurant_col: str | None = None  # reference: restaurantName
    metric: str = "cosine"
    extra_project: tuple[str, ...] = field(default_factory=tuple)


class SearchEngine:
    """DataFrame-backed search engine with the reference's query surface."""

    def __init__(
        self,
        df: DataFrame,
        config: SearchConfig,
        *,
        embedder=None,
        compat: str = "native",
        eager: bool = True,
    ):
        """``eager=True`` (default, the serving trade): build the indexes at
        construction — check that ids are unique, persist the text index
        (postings with their BM25 weights), checkpoint the vector table (the
        corpus columns the vector path reads, with each row's vector norm,
        spread over the cores) and the fulltext impact table, and read the
        corpus vector dimensionality — so a bad corpus fails at startup, not
        on the first query. ``eager=False`` defers each of these to its
        first use, for batch composition where an engine may be constructed
        (e.g. per table in a catalog sweep) without ever serving a query."""
        if compat not in COMPAT_MODES:
            raise ValueError(f"compat must be one of {sorted(COMPAT_MODES)}, got {compat!r}")
        self.df = df
        self.cfg = config
        self.compat = compat
        self.embedder = embedder or HashingEmbedder()
        self._ids_checked = False
        self._stats_cache = None
        self._vector_table: DataFrame | None = None
        self._vector_parts = 1
        self._text_table: DataFrame | None = None
        self._dim_cache: int | None = None
        self._dim_known = False
        # endpoint calls whose Spark work is running now (_serving); a kNN
        # scan splits the cores among them (_knn)
        self._in_flight = 0
        self._in_flight_lock = threading.Lock()
        if eager:
            self._build_vector_table()
            self._build_stats()
            self._build_text_table()
            self._read_dim()

    def _check_ids(self) -> None:
        """Fail unless the corpus ids are unique. BM25 groups postings by id,
        and the text table and hybrid fusion join on it, so duplicates would
        mix documents' scores silently. Runs once, before the first build."""
        if not self._ids_checked:
            ids = self.df.groupBy(F.col(self.cfg.id_col).alias("__id")).count()
            dups = ids.where(F.col("count") > 1).limit(3).collect()
            if dups:
                raise ValueError(
                    f"corpus ids must be unique: {self.cfg.id_col} repeats for "
                    f"{[r['__id'] for r in dups]}"
                )
            self._ids_checked = True

    def _build_stats(self):
        if self._stats_cache is None:
            self._check_ids()
            # "index build": corpus-global text statistics over the FULL
            # table, and from them each posting's BM25 weight, computed once
            # and summed by every hybrid query with no join (reference
            # indexes.py is likewise a separate build step; see SURVEY.md
            # §4.2 for why stats must never see a filtered corpus).
            self._stats_cache = bm25_op.build_text_stats(
                self.df, self.cfg.id_col, self.cfg.title_col
            ).persist()
        return self._stats_cache

    def _build_text_table(self) -> DataFrame:
        """The fulltext serving table: the corpus without its embedding, with
        each document's stored BM25 term weights as a map
        (``bm25_op.impact_table``), so that a fulltext request is one scan
        with no join. It regroups the postings' weights, which the hybrid
        path keeps summing."""
        if self._text_table is None:
            table = bm25_op.impact_table(
                self.df.drop(self.cfg.emb_col), self._stats, self.cfg.id_col
            )
            # eager localCheckpoint, not persist(): it cuts the lineage, so
            # the table holds no reference to the build plan, whose broadcast
            # relations a persisted plan keeps alive on the heap
            self._text_table = table.localCheckpoint(eager=True)
        return self._text_table

    def _build_vector_table(self) -> DataFrame:
        """The vector serving table: the corpus columns a vector request
        reads (the projected ones, the root column of each filter field and
        the embedding) plus each row's ``norm(embedding)`` in column
        ``_NORM``, spread over ``defaultParallelism`` partitions, so that a
        kNN request is one scan with no join, in as many tasks as the load
        leaves cores for (_knn)."""
        if self._vector_table is None:
            self._check_ids()
            cfg, columns = self.cfg, self.df.columns
            filters = (cfg.available_col, cfg.price_col, cfg.restaurant_col)
            roots = [c if c in columns else c.split(".")[0] for c in filters if c]
            read = dict.fromkeys([*self._project_cols(), *roots, cfg.emb_col])
            # "vector index build": each row's norm, computed once so that a
            # cosine search makes one pass per row (the dot product), not two
            table = self.df.select(*read, norm(F.col(cfg.emb_col)).alias(_NORM)).repartition(
                self.df.sparkSession.sparkContext.defaultParallelism
            )
            # checkpointed, not persisted, for the reason _build_text_table gives
            self._vector_table = table.localCheckpoint(eager=True)
            self._vector_parts = self._vector_table.rdd.getNumPartitions()
        return self._vector_table

    def _read_dim(self) -> int | None:
        if not self._dim_known:
            # corpus vector dimensionality, checked against every query
            # vector (zip_with would otherwise null-pad a mismatch into
            # silent NULLs)
            first = self.df.select(F.size(self.cfg.emb_col).alias("d")).head()
            self._dim_cache = int(first.d) if first else None
            self._dim_known = True
        return self._dim_cache

    @property
    def _stats(self):
        return self._build_stats()

    @property
    def _dim(self) -> int | None:
        return self._read_dim()

    # ---------------------------------------------------------- endpoints

    @contextlib.contextmanager
    def _serving(self):
        """Count the enclosed Spark work as one endpoint call in flight."""
        with self._in_flight_lock:
            self._in_flight += 1
        try:
            yield
        finally:
            with self._in_flight_lock:
                self._in_flight -= 1

    def restaurants(self) -> list[str]:
        """GET /api/restaurants: distinct non-null values, ascending
        (reference backend/api.py:84-95)."""
        if not self.cfg.restaurant_col:
            return []
        # reference backend/api.py:93 logs the aggregation before running it
        _LOG.info(
            "Executing restaurants aggregation: distinct(%s) not-null asc",
            self.cfg.restaurant_col,
        )
        with self._serving(), timed(_LOG, "restaurants"):
            rows = (
                self.df.select(F.col(self.cfg.restaurant_col).alias("v"))
                .where(F.col("v").isNotNull())
                .distinct()
                .orderBy(F.asc("v"))
                .collect()
            )
        return [r.v for r in rows]

    def search(self, payload: dict[str, Any] | None, *, compat: str | None = None) -> dict[str, Any]:
        """POST /api/search.

        ``compat``: response wire format — "native" keeps the engine's
        ``score`` + ``score_details`` columns as-is; "atlas" re-shapes hybrid
        results into the reference's exact ``scoreDetails`` document (no bare
        ``score`` field, matching reference backend/api.py:242-250's
        projection). Defaults to the engine-level setting."""
        compat = compat if compat is not None else self.compat
        if compat not in COMPAT_MODES:
            raise ApiError(400, f"compat no válido: {compat!r}")
        payload = payload or {}
        mode = (payload.get("mode") or "vector").lower()
        if mode not in MODES:
            raise ApiError(400, "Modo de búsqueda no válido.")

        description = (payload.get("description") or "").strip()
        title_value = (payload.get("title") or "").strip()
        if mode in {"vector", "hybrid"} and not description:
            raise ApiError(400, "La descripción es obligatoria para la búsqueda seleccionada.")
        if mode in {"hybrid", "fulltext"} and not title_value:
            raise ApiError(400, "El título es obligatorio para la búsqueda seleccionada.")

        try:
            limit = int(payload.get("limit", 5))
        except (TypeError, ValueError):
            limit = 5
        limit = clamp_limit(limit)

        available = payload.get("available")
        if available is not None:
            available = bool(available)
        max_price = payload.get("maxPrice")
        if max_price is not None:
            try:
                max_price = float(max_price)
            except (TypeError, ValueError):
                raise ApiError(400, "El formato del precio máximo no es válido.")
        restaurant = payload.get("restaurant")
        if restaurant is not None:
            restaurant = restaurant.strip() or None

        pre_filter = self._filter(available, max_price, restaurant)

        # reference backend/api.py:202,254,281 log each mode's pipeline
        # before running it; wall time is the Spark-side addition
        _LOG.info(
            "Executing %s pipeline: limit=%d available=%s maxPrice=%s restaurant=%s",
            mode, limit, available, max_price, restaurant,
        )
        with self._serving(), timed(_LOG, f"search[{mode}]"):
            if mode == "vector":
                out = self._vector(description, limit, pre_filter)
            elif mode == "hybrid":
                out = self._hybrid(description, title_value, limit, pre_filter)
            else:
                out = self._fulltext(title_value, limit, residual=pre_filter)
            results = [self._sanitize(r.asDict(True), compat=compat) for r in out.collect()]
        return {"mode": mode, "results": results}

    # ------------------------------------------------------------ internals

    def _filter(self, available, max_price, restaurant) -> Column | None:
        """Reference build_filter_components (backend/api.py:29-50):
        equality on available/restaurant, strict < on price, AND-combined."""
        conds: list[Column] = []
        if available is not None and self.cfg.available_col:
            conds.append(F.col(self.cfg.available_col) == available)
        if max_price is not None and self.cfg.price_col:
            conds.append(F.col(self.cfg.price_col) < max_price)
        if restaurant is not None and self.cfg.restaurant_col:
            conds.append(F.col(self.cfg.restaurant_col) == restaurant)
        if not conds:
            return None
        out = conds[0]
        for c in conds[1:]:
            out = out & c
        return out

    def _project_cols(self) -> list[str]:
        cols = [self.cfg.id_col, self.cfg.title_col, *self.cfg.extra_project]
        if self.cfg.restaurant_col:
            cols.append(self.cfg.restaurant_col)
        return cols

    def _knn(self, description: str, limit: int, pre_filter: Column | None) -> DataFrame:
        """Exact top-``limit`` rows of the vector table for the embedded
        description. Cosine reads each row's stored norm.

        A lone request scans the table in one task per partition. Under
        load, the partitions are coalesced (narrow, no shuffle) so that the
        requests in flight share the cores: at as many requests as
        partitions, each scans in one task, so a one-task fulltext job does
        not queue behind one request's many tasks. Answers do not depend on
        the split: the top-k order (score DESC, id ASC) is total."""
        qv = query_vector(description, embedder=self.embedder)
        norm_col = None
        if self.cfg.metric == "cosine":
            if norm_value(qv) == 0.0:
                raise ApiError(400, "La descripción no contiene términos con los que buscar.")
            norm_col = _NORM
        corpus, parts = self._build_vector_table(), self._vector_parts
        tasks = max(1, parts // max(1, self._in_flight))
        if tasks < parts:
            corpus = corpus.coalesce(tasks)
        return knn(
            corpus,
            qv,
            limit,
            vector_col=self.cfg.emb_col,
            id_col=self.cfg.id_col,
            metric=self.cfg.metric,
            pre_filter=pre_filter,
            expected_dim=self._dim,
            norm_col=norm_col,
        )

    def _vector(self, description: str, limit: int, pre_filter: Column | None) -> DataFrame:
        return self._knn(description, limit, pre_filter).select(*self._project_cols(), "score")

    def _fulltext(self, title_value: str, limit: int, *, residual: Column | None) -> DataFrame:
        out = bm25_op.impact_fulltext(
            self._build_text_table(),
            title_value,
            limit,
            id_col=self.cfg.id_col,
            residual_filter=residual,
        )
        return out.select(*self._project_cols(), "score")

    def _hybrid(
        self, description: str, title_value: str, limit: int, pre_filter: Column | None
    ) -> DataFrame:
        id_col = self.cfg.id_col
        # pre-filter on the vector branch only (api.py:178-180)
        vec_branch = self._knn(description, limit, pre_filter).select(
            F.col(id_col).alias("id"), "score"
        )
        txt_branch = bm25_op.bm25_scores(self._stats, bm25_op._py_tokens(title_value))
        fused = fusion_op.score_fusion(
            {"vector": vec_branch, "text": txt_branch},
            {"vector": fusion_op.VECTOR_WEIGHT, "text": fusion_op.TEXT_WEIGHT},
            include_details=True,
        ).withColumnRenamed("id", "__fused_id")  # corpus may have its own `id`
        out = fused.join(self.df, F.col("__fused_id") == F.col(id_col)).drop("__fused_id")
        if pre_filter is not None:  # residual re-filter AFTER fusion (api.py:238-239)
            out = out.where(pre_filter)
        return (
            out.orderBy(F.col("score").desc(), F.col(id_col).asc())
            .limit(limit)
            .select(*self._project_cols(), "score", "score_details")
        )

    def cli_search(
        self,
        query: str,
        *,
        k: int = 5,
        filter_available: bool | None = None,
        min_price: float | None = None,
        max_price: float | None = None,
    ) -> list[dict[str, Any]]:
        """The reference's local-test.py CLI entry point: vector-only search
        with INCLUSIVE range bounds (gte/lte, local-test.py:98-111) — note
        the web API's maxPrice is strict < (backend/api.py:37-38); the engine
        exposes both boundary semantics (SURVEY.md §2.2 P3).

        numCandidates = max(k*5, 200) (local-test.py:151) has no exact-search
        analog (recall is 1.0); it returns as nprobe in operators.ivf.
        """
        conds: list[Column] = []
        if filter_available is not None and self.cfg.available_col:
            conds.append(F.col(self.cfg.available_col) == filter_available)
        if self.cfg.price_col:
            if min_price is not None:
                conds.append(F.col(self.cfg.price_col) >= min_price)
            if max_price is not None:
                conds.append(F.col(self.cfg.price_col) <= max_price)
        pre = None
        for c in conds:
            pre = c if pre is None else pre & c
        with self._serving():
            out = self._vector(query, clamp_limit(k), pre)
            return [self._sanitize(r.asDict(True)) for r in out.collect()]

    def _sanitize(self, doc: dict[str, Any], *, compat: str = "native") -> dict[str, Any]:
        """Reference sanitize_result (backend/api.py:53-81): stringify ids,
        floatify scores, JSON-encode score details. compat="atlas" swaps the
        engine's (score, score_details) pair for the reference's single
        ``scoreDetails`` document."""
        out = dict(doc)
        if self.cfg.id_col in out and out[self.cfg.id_col] is not None:
            out[self.cfg.id_col] = str(out[self.cfg.id_col])
        if out.get("score") is not None:
            out["score"] = float(out["score"])
        if "score_details" in out and out["score_details"] is not None:
            if compat == "atlas":
                out["scoreDetails"] = _atlas_score_details(
                    out.pop("score", None), out.pop("score_details")
                )
            else:
                out["score_details"] = json.loads(json.dumps(out["score_details"], default=str))
        return out
