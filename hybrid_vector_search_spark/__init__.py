"""hybrid_vector_search_spark — a PySpark-native hybrid vector search engine.

Re-implements, Spark-first, the query and data-processing capabilities of the
reference system ``josmanperez/hybrid-vector-search`` (a MongoDB-Atlas-backed
hybrid vector search demo; see SURVEY.md). The reference composes Atlas
aggregation stages ($vectorSearch, $search, $scoreFusion, $match, $project,
$limit, $group, $sort); this package implements the *semantics* of those
stages natively as Catalyst logical plans built with the DataFrame API:

- ``operators.knn``      — exact K-nearest-neighbour scoring + pre-filtered top-k
                           ($vectorSearch, reference backend/api.py:168-202)
- ``operators.bm25``     — Lucene-style BM25 full-text relevance over a title
                           column ($search, reference backend/api.py:255-281)
- ``operators.fusion``   — sigmoid-normalized weighted score fusion
                           ($scoreFusion, reference backend/api.py:203-254)
- ``operators.flatten``  — nested-array explode/flatten
                           (reference transform-seed.py:64-94)
- ``operators.dedup``    — exact / MinHash-LSH / SimHash / n-gram-Jaccard /
                           embedding-cosine deduplication (scale extensions)
- ``operators.textstats``— language-ID, quality scoring, token counting,
                           fingerprinting (scale extensions)
- ``operators.ivf``      — IVF-style ANN layout (KMeans centroids + partition
                           pruning), the numCandidates/nprobe recall dial
- ``streaming``          — Structured Streaming variants of the batch operators
- ``artifacts``          — the one registry of per-sf_dir prepared state the
                           declared queries build once and reuse
- ``plans.api``          — the reference's public query API (mode validation,
                           limit clamping, response shaping;
                           reference backend/api.py:98-146)

Everything here derives from public knowledge only: the Apache Spark / PySpark
API, the reference repo, and published papers (BM25: Robertson & Zaragoza 2009;
MinHash: Broder 1997; SimHash: Charikar 2002; IVF: Jégou et al. 2011).
"""

__version__ = "0.1.0"
