"""Training-data pipeline query plans (dedup + text analysis suite).

Query-shaped entry points over the testdata `documents`/`embeddings` tables
for the operators in operators.dedup and operators.textstats, used by both
the driver contract (__spark_entry__) and the benchmarks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import artifacts
from ..functions import text as text_fns
from ..operators import dedup, ordering, sampling, textstats
from ..sources import load_table

# Exact-dedup demo corpus: documents plus planted duplicates (every 50th doc
# re-inserted under a shifted id) — mirrors re-crawled content in a real
# corpus. The oracle performs the identical union.
PLANT_STEP = 50
PLANT_OFFSET = 10_000


def _with_planted_dupes(docs: DataFrame) -> DataFrame:
    dupes = docs.where(F.col("doc_id") % PLANT_STEP == 0).select(
        (F.col("doc_id") + PLANT_OFFSET).alias("doc_id"), "text"
    )
    return docs.select("doc_id", "text").unionAll(dupes)


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _with_planted_dupes(load_table(spark, sf_dir, "documents"))
    out = dedup.exact_dedup(docs, "doc_id", "text")
    return out.select("doc_id", "content_hash", "is_duplicate")


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    out = dedup.minhash_near_dups(
        docs, "doc_id", "text", min_jaccard=0.7, bands=4, rows_per_band=2, shingle_n=3
    )
    return out.select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        F.round("jaccard", 6).alias("jaccard"),
    )


def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sh = dedup.shingle_table(docs, "doc_id", "text", n=3, with_size=True)
    out = dedup.jaccard_pairs(sh, min_jaccard=0.5)
    return out.select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        F.round("jaccard", 6).alias("jaccard"),
    )


def ngram_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same answer as ngram_jaccard_pairs through the PPJoin prefix filter
    (dedup.jaccard_pairs_prefix): only each set's rarest (1−t) tokens are
    indexed, candidates verify exactly — the oracle is SHARED with the
    plain plan, so the losslessness claim is itself driver-hash-checked."""
    docs = load_table(spark, sf_dir, "documents")
    sh = dedup.shingle_table(docs, "doc_id", "text", n=3)
    out = dedup.jaccard_pairs_prefix(sh, min_jaccard=0.5)
    return out.select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        F.round("jaccard", 6).alias("jaccard"),
    )


def doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-doc repeated-3-gram ratio (textstats.repetition_stats)."""
    docs = load_table(spark, sf_dir, "documents")
    return textstats.repetition_stats(docs, "doc_id", "text").orderBy("doc_id")


def unigram_logprob_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LM-perplexity-proxy quality score over documents (see
    textstats.unigram_logprob)."""
    docs = load_table(spark, sf_dir, "documents")
    out = textstats.unigram_logprob(docs, "doc_id", "text")
    return out.select(
        F.col("id").alias("doc_id"), "mean_neg_logp", "n_tokens"
    ).orderBy("doc_id")


def bigram_logprob_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM perplexity-filter score (textstats.bigram_logprob) — the
    order-2 companion of unigram_logprob_score."""
    docs = load_table(spark, sf_dir, "documents")
    out = textstats.bigram_logprob(docs, "doc_id", "text")
    return out.select(
        F.col("id").alias("doc_id"), "mean_neg_logp", "n_bigrams"
    ).orderBy("doc_id")


CHUNK_SIZE, CHUNK_STRIDE = 32, 24


def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG/training-context chunking: overlapping token windows of
    CHUNK_SIZE advancing by CHUNK_STRIDE per document. Pure Catalyst
    (tokens → chunk_index sequence → posexplode-free transform+explode),
    map-only — the corpus never shuffles; at 100 TB this is an embarrassing-
    parallel projection whose output partitioning inherits the input's."""
    from ..functions.text import chunk_index, tokens

    docs = load_table(spark, sf_dir, "documents")
    # single-split local fixture → fan the tokenize+slice work across cores
    # (cluster inputs arrive pre-split; see textstats.bigram_logprob note)
    par = spark.sparkContext.defaultParallelism
    toks = docs.select("doc_id", "text").repartition(par).select(
        "doc_id", tokens(F.col("text")).alias("ts")
    )
    with_idx = toks.select(
        "doc_id",
        "ts",
        F.explode(chunk_index(F.size("ts"), CHUNK_SIZE, CHUNK_STRIDE)).alias("chunk_id"),
    )
    start = F.col("chunk_id") * F.lit(CHUNK_STRIDE) + F.lit(1)
    piece = F.slice(F.col("ts"), start, CHUNK_SIZE)
    return (
        with_idx.select(
            "doc_id",
            "chunk_id",
            F.size(piece).alias("n_tokens"),
            F.array_join(piece, " ").alias("chunk_text"),
        )
        .orderBy("doc_id", "chunk_id")
    )


RAG_QUERY = "fast spark table value"


def rag_retrieve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end RAG retrieval as ONE lazy plan: chunk every document
    (doc_chunks' overlapping token windows) → embed every chunk with the
    deterministic hashing embedder (iterator Pandas UDF, Arrow-batched) →
    score against the driver-embedded query text with a DECIMAL-exact dot
    product (per-element products rounded to 12dp, summed as
    DECIMAL(38,12) — order- and engine-independent, the pagerank
    accumulation policy) → top-10 chunks by (score DESC, doc_id, chunk_id).

    The whole pipeline is oracle-replayable because the embedder is pure
    md5 arithmetic (the embed_roundtrip bit-exactness result): the oracle
    re-chunks, re-embeds chunks AND the query string in SQL, and joins
    sparse (bucket, value) representations — both engines produce identical
    float32 components, so the rounded decimal dot agrees exactly.

    At 100 TB: chunking and embedding are map-only (corpus never shuffles);
    scoring is a per-row expression; top-k is TakeOrderedAndProject. The
    serving variant would persist chunk embeddings once and probe them via
    the IVF/LSH batch searches — this query IS that pipeline's build+score
    path, end-to-end checked."""
    from ..operators.embed import HashingEmbedder, embed_texts
    from ..functions.vector import _as_double

    chunks = doc_chunks(spark, sf_dir)
    embedder = HashingEmbedder()
    emb = chunks.withColumn("_emb", embed_texts(embedder, F.col("chunk_text")))
    qv = [float(x) for x in embedder.embed_one(RAG_QUERY)]
    dec = "decimal(38,12)"
    prods = F.zip_with(
        F.col("_emb").cast("array<double>"),
        _as_double(qv),
        lambda x, y: F.round(x * y, 12).cast(dec),
    )
    dot = F.aggregate(
        prods,
        F.lit(0).cast(dec),
        lambda acc, x: (acc + x).cast(dec),
    )
    return (
        emb.select(
            "doc_id",
            "chunk_id",
            F.round(dot.cast("double"), 6).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"), F.asc("chunk_id"))
        .limit(10)
    )


def multimodal_binary_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary column pipeline over real testdata: utf-8 document
    bytes play the media blob; the Arrow kernel emits fixed-width features
    (length, md5) that downstream relational ops consume. Verified
    bit-for-bit by a DuckDB oracle over encode(text)."""
    from ..multimodal import binary_stats

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("content")
    )
    return binary_stats(docs, "doc_id", "content").select(
        F.col("id").alias("doc_id"), "n_bytes", "content_md5"
    ).orderBy("doc_id")


def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: corpus docs sharing any 5-token shingle
    with the holdout set (doc_id < 100 plays the eval benchmark). The
    holdout's distinct shingle set is broadcast — at 100 TB the benchmark
    side is always tiny, so the corpus is never shuffled, only map-side
    semi-joined — and the per-doc hit count is what a removal/reporting
    policy consumes downstream."""
    docs = load_table(spark, sf_dir, "documents")
    holdout = docs.where(F.col("doc_id") < 100)
    corpus = docs.where(F.col("doc_id") >= 100)
    ev_sh = dedup.shingle_table(holdout, "doc_id", "text", n=5).select("sh").distinct()
    corpus_sh = dedup.shingle_table(corpus, "doc_id", "text", n=5)
    return (
        corpus_sh.join(F.broadcast(ev_sh), "sh")
        .groupBy("id")
        .agg(F.count("*").alias("n_shared"))
        .select(F.col("id").alias("doc_id"), "n_shared")
        .orderBy("doc_id")
    )


def compression_ratio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-attesting zlib compressibility (r6 — the ANN recall pattern):
    the compressed SIZE has no SQL twin (its exact value + known-fixture
    bands stay pinned in pytest), but the checkable contracts ride the
    driver row — exact utf-8 byte length (oracle-verified), the in-kernel
    losslessness round-trip (decompress∘compress = id), and the claim that
    every >=200-byte doc actually compresses below its raw size. The
    oracle states the booleans TRUE, so a codec/kernel regression
    hash-fails the gate."""
    docs = load_table(spark, sf_dir, "documents")
    out = textstats.compression_ratio(docs, "doc_id", "text")
    return (
        out.select(
            F.col("id").alias("doc_id"),
            "n_bytes",
            "roundtrip_ok",
            (
                (F.col("n_bytes") < 200)
                | (F.col("n_compressed") < F.col("n_bytes"))
            ).alias("compresses"),
        )
        .orderBy("doc_id")
    )


def oov_rate_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-coverage diagnostic: per-doc OOV rate against the corpus's
    own top-1000-by-df vocabulary (deterministic cut: df desc, token asc via
    TakeOrderedAndProject — no single-task sort). Vocabulary broadcasts;
    corpus makes one exploded pass."""
    docs = load_table(spark, sf_dir, "documents")
    out = textstats.oov_rate(docs, "doc_id", "text", vocab_size=1000)
    return out.select(
        F.col("id").alias("doc_id"), "n_tokens", "n_oov", "oov_rate"
    ).orderBy("doc_id")


def url_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-level corpus rollup over deterministically PLANTED URLs (the
    synthetic corpus has none — same fixture pattern as pii_redact): every
    5th doc gets a mixed-case tracking-paramed https URL and a multi-part-
    TLD http URL derived from its doc_id. Extraction, normalization (case,
    fragment, utm/fbclid/gclid, dangling separators, trailing slash) and
    the registrable-domain approximation are pure JVM regexp expressions;
    the oracle replays the identical regex sequence with the 'g' flag."""
    from ..operators.urls import domain_stats

    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id").cast("string")
    m3 = (F.col("doc_id") % 3).cast("string")
    suffix = F.concat(
        F.lit(" see https://WWW.Example"), m3, F.lit(".COM/page/"), d,
        F.lit("?utm_source=x&id="), d,
        F.lit("&utm_medium=y#frag and http://blog.example"), m3,
        F.lit(".co.uk/post-"), d, F.lit("/"),
    )
    planted = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 5 == 0, F.concat(F.col("text"), suffix))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return domain_stats(planted, "doc_id", "text").orderBy("domain")


def stratified_sample_exact_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-language quota draw: 10 hash-ranked docs per lang (eval-set
    construction — "10k per language", not a rate). Selection is the md5
    rank order the oracle replays verbatim; one stratum exchange."""
    docs = load_table(spark, sf_dir, "documents")
    out = sampling.stratified_sample_exact(docs, "doc_id", "lang", 10)
    return out.select("doc_id", "lang").orderBy("lang", "doc_id")


def user_purge_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-erasure audit: purge every event of the users on a deletion
    list (here: user_id % 97 = 0, standing in for an arbitrary request
    table) via a broadcast LEFT ANTI join — the fact table never shuffles,
    the purge list is dimension-sized by nature — and report kept/purged
    counts per event type. The deletion list is handled as a RELATION, not
    an inlined predicate, because at 100 TB it arrives as one (a compliance
    table), and the same plan then serves any list."""
    ev = load_table(spark, sf_dir, "events")
    purge = (
        ev.select("user_id").distinct().where(F.col("user_id") % 97 == 0)
    )
    kept = (
        ev.join(F.broadcast(purge), "user_id", "left_anti")
        .groupBy("event_type")
        .agg(F.count("*").alias("n_kept"))
    )
    total = ev.groupBy("event_type").agg(F.count("*").alias("n_total"))
    return (
        total.join(kept, "event_type", "left")
        .select(
            "event_type",
            "n_total",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            (F.col("n_total") - F.coalesce("n_kept", F.lit(0))).alias("n_purged"),
        )
        .orderBy("event_type")
    )


def sorted_neighborhood_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-pass SNM blocking over the planted-dupes corpus: rank-window
    candidates (first-char buckets, window 3) from BOTH the normalized-
    prefix key and the reversed-text (ending) key, unioned before one exact
    3-gram Jaccard ≥ 0.5 verification. Planted exact dupes share both keys,
    so they sort adjacent in both passes — the oracle replays ranks,
    candidate union, and Jaccard verbatim."""
    docs = _with_planted_dupes(load_table(spark, sf_dir, "documents"))
    out = dedup.sorted_neighborhood_pairs(
        docs, "doc_id", "text", key_len=24, window=3, min_jaccard=0.5, passes=2
    )
    return out.select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"), "jaccard"
    ).orderBy("doc_a", "doc_b")


def embedding_centroid_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mislabel/outlier detection in embedding space: each label's centroid
    (elementwise mean) and, per label, the 5 vectors LEAST similar to their
    own centroid — the standard first pass for pruning mislabeled or noisy
    examples from a labeled embedding corpus.

    Determinism across engines and executor counts: centroid components are
    exact DECIMAL sums of 7-dp-rounded values divided as double (partial-agg
    order can't perturb them), the ordered component array comes from
    array_sort over (idx, value) structs — never collect_list order — and
    the cosine is the sequential zip_with/aggregate fold rounded to 6 dp,
    with vec_id breaking rank ties.

    Scale: one posexplode + one (label, idx) groupBy — shuffle rows =
    |labels|·dim·partitions partial sums, never vectors; the centroid
    relation (|labels| rows) broadcasts back; top-5-per-label is a window
    over partitionBy(label). At 100 TB nothing here is corpus-quadratic.
    """
    from ..functions.vector import cosine

    emb = load_table(spark, sf_dir, "embeddings")
    pos = emb.select(
        "label", F.posexplode(F.col("embedding").cast("array<double>")).alias("idx", "val")
    )
    cent = (
        pos.groupBy("label", "idx")
        .agg(
            F.sum(F.round(F.col("val"), 7).cast("decimal(20,7)")).alias("s"),
            F.count("*").alias("n"),
        )
        .select("label", "idx", (F.col("s").cast("double") / F.col("n")).alias("c"))
    )
    cent_arr = cent.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("idx", "c"))), lambda s: s["c"]
        ).alias("centroid")
    )
    scored = emb.join(F.broadcast(cent_arr), "label").select(
        "vec_id",
        "label",
        F.round(cosine(F.col("embedding"), F.col("centroid")), 6).alias("cos_centroid"),
    )
    w = Window.partitionBy("label").orderBy("cos_centroid", "vec_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .drop("rn")
        .orderBy("label", "cos_centroid", "vec_id")
    )


def source_token_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-shift radar for text: per-source unigram KL divergence
    from the corpus distribution (textstats.source_token_divergence) — the
    token-side sibling of embedding_drift."""
    docs = load_table(spark, sf_dir, "documents")
    out = textstats.source_token_divergence(docs, "source", "text")
    return out.select(
        F.col("g").alias("source"), "n_tokens", "n_vocab", "kl_divergence"
    ).orderBy("source")


def source_token_js(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Jensen-Shannon divergence from the rest of the corpus
    (textstats.source_token_js) — the symmetric, bounded companion to
    source_token_kl: KL flags how a source reads against the corpus LM,
    JS ranks sources on mutual distinguishability and stays finite under
    disjoint vocabulary, which is what a mixture-rebalancing pass sorts
    by."""
    docs = load_table(spark, sf_dir, "documents")
    out = textstats.source_token_js(docs, "source", "text")
    return out.select(
        F.col("g").alias("source"), "n_tokens", "js_divergence"
    ).orderBy("source")


def embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-drift monitor in embedding space: split the corpus into a
    reference snapshot (even vec_ids — standing in for "last month's data")
    and a current snapshot (odd vec_ids), compute each label's centroid in
    both, and report the centroid-to-centroid cosine per label plus the
    count shift. A drifting pipeline (encoder change, upstream distribution
    shift, label contamination) shows up as cos < 1 long before downstream
    metrics move — this is the standing data-quality monitor for embedding
    columns, complementing the in-snapshot outlier scorer
    (embedding_centroid_outliers).

    Same engine-exactness recipe as the outlier scorer: decimal-exact
    centroid components, sequential-fold cosine, 6-dp rounding. One
    posexplode + one (half, label, idx) groupBy — shuffle carries partial
    sums only, and the centroid relations are |labels|-sized.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    half = (F.col("vec_id") % 2 == 0)
    pos = emb.select(
        half.alias("is_ref"),
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("idx", "val"),
    )
    cent = (
        pos.groupBy("is_ref", "label", "idx")
        .agg(
            F.sum(F.round(F.col("val"), 7).cast("decimal(20,7)")).alias("s"),
            F.count("*").alias("n"),
        )
        .select(
            "is_ref", "label", "idx", (F.col("s").cast("double") / F.col("n")).alias("c")
        )
    )
    arrs = cent.groupBy("is_ref", "label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("idx", "c"))), lambda s: s["c"]
        ).alias("centroid")
    )
    ref = arrs.where(F.col("is_ref")).select("label", F.col("centroid").alias("c_ref"))
    cur = arrs.where(~F.col("is_ref")).select("label", F.col("centroid").alias("c_cur"))
    counts = emb.groupBy("label").agg(
        F.sum(half.cast("long")).alias("n_ref"),
        F.sum((~half).cast("long")).alias("n_cur"),
    )
    from ..functions.vector import cosine

    return (
        ref.join(cur, "label")
        .join(counts, "label")
        .select(
            "label",
            "n_ref",
            "n_cur",
            F.round(cosine(F.col("c_ref"), F.col("c_cur")), 6).alias("centroid_cos"),
        )
        .orderBy("label")
    )


def source_minhash_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level near-dup radar: a MinHash signature per SOURCE (union of
    each source's doc shingles) and the pairwise agreement-fraction Jaccard
    estimate between sources. Flags whole sub-corpora that duplicate each
    other (re-crawls, mirrored dumps) before any doc-level dedup runs. One
    explosion + one map-side-min groupBy; the pair join is |sources|², which
    is the operator's contract (sources, not documents). Estimates are exact
    multiples of 1/32, so the oracle replays them bit-for-bit.
    """
    docs = load_table(spark, sf_dir, "documents")
    sig = dedup.grouped_minhash_signatures(
        docs, "source", "text", num_hashes=32, shingle_n=3
    )
    return dedup.signature_jaccard_estimates(sig, num_hashes=32).select(
        F.col("g_a").alias("src_a"),
        F.col("g_b").alias("src_b"),
        "n_agree",
        "est_jaccard",
    ).orderBy("src_a", "src_b")


def decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered decontamination — the scale path of
    :func:`decontaminate`, same answer by construction.

    The plain plan broadcasts the holdout's FULL distinct-shingle set; this
    one broadcasts a fixed-size (word, mask) Bloom bitmap instead
    (operators.bloom), prefilters the corpus shingles through k map-side
    bit-test joins, and only then re-verifies the (much smaller) survivor
    set against the exact shingle relation. No false negatives (every
    present key's bits were OR-ed in), so prefilter→exact-verify ≡ exact:
    the oracle is literally the same SQL as `decontaminate`. At 100 TB the
    broadcast is m_bits/8 bytes no matter how many benchmarks the holdout
    aggregates, where the exact set would be gigabytes.
    """
    from ..operators import bloom

    m_bits, k = 1 << 20, 4
    docs = load_table(spark, sf_dir, "documents")
    holdout = docs.where(F.col("doc_id") < 100)
    corpus = docs.where(F.col("doc_id") >= 100)
    # r13: the holdout shingle set feeds the bitmap build AND the final
    # exact verify, and the bitmap relation is broadcast k=4 times (one
    # per hash-family probe) — left unmaterialized, the bitmap's whole
    # build subtree re-executed per broadcast (44 static Exchange nodes).
    # Both relations are small by construction (the holdout side and
    # ≤ m_bits/64 words); localCheckpoint computes each once (guide §3.3).
    # eager=False (r14): same one-time materialization, deferred to the
    # first action so the build jobs stay inside the timed exec window.
    ev_sh = (
        dedup.shingle_table(holdout, "doc_id", "text", n=5)
        .select("sh")
        .distinct()
        .localCheckpoint(eager=False)
    )
    bitmap = bloom.bloom_build(ev_sh, "sh", m_bits=m_bits, k=k).localCheckpoint(
        eager=False
    )
    corpus_sh = dedup.shingle_table(corpus, "doc_id", "text", n=5)
    candidates = bloom.bloom_prefilter(corpus_sh, "sh", bitmap, m_bits=m_bits, k=k)
    return (
        candidates.join(F.broadcast(ev_sh), "sh")
        .groupBy("id")
        .agg(F.count("*").alias("n_shared"))
        .select(F.col("id").alias("doc_id"), "n_shared")
        .orderBy("doc_id")
    )


def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERS: connected components over the >=0.5-jaccard
    pair graph — each clustered doc labeled with its component's min doc_id.
    The oracle computes the identical transitive closure with a recursive
    CTE, pinning the iterative DataFrame fixpoint against declarative SQL."""
    from ..operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents")
    sh = dedup.shingle_table(docs, "doc_id", "text", n=3, with_size=True)
    pairs = dedup.jaccard_pairs(sh, min_jaccard=0.5)
    comps = connected_components(pairs, "id_a", "id_b")
    return comps.select(
        F.col("node").alias("doc_id"), "component"
    ).orderBy("doc_id")


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.simhash(docs, "doc_id", "text", bits=32).select(
        F.col("id").alias("doc_id"), "simhash"
    )


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    out = dedup.embedding_near_dups(emb, "vec_id", "embedding", threshold=0.45)
    return out.select(
        F.col("id_a").alias("vec_a"), F.col("id_b").alias("vec_b"), "cos"
    )


def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over documents with deterministically PLANTED PII — the
    synthetic corpus contains none, so every 7th doc gets an email, a phone,
    an SSN and an IPv4 derived from its doc_id (the same fixture-planting
    pattern as _with_planted_dupes). Redaction itself is sequential JVM
    regexp rules (operators.pii, zero Python, zero shuffle); the DuckDB twin
    applies byte-identical patterns with the 'g' flag."""
    from ..operators.pii import redact_pii

    docs = load_table(spark, sf_dir, "documents")
    suffix = F.concat(
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or 555-"),
        F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" ssn 123-45-6789 ip 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7"),
    )
    planted = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 7 == 0, F.concat(F.col("text"), suffix))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    out = redact_pii(planted, "doc_id", "text")
    return out.select(
        F.col("id").alias("doc_id"),
        "n_email",
        "n_ssn",
        "n_phone",
        "n_ipv4",
        F.md5("redacted").alias("redacted_md5"),
    )


def dedup_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Identical clusters to dedup_components, computed with the
    large-star/small-star algorithm (O(log n) rounds vs O(diameter)) —
    oracle-pinned to the same recursive-CTE transitive closure, so both
    component implementations are driver-verified equal."""
    from ..operators.graph import connected_components_star

    docs = load_table(spark, sf_dir, "documents")
    sh = dedup.shingle_table(docs, "doc_id", "text", n=3, with_size=True)
    pairs = dedup.jaccard_pairs(sh, min_jaccard=0.5)
    comps = connected_components_star(pairs, "id_a", "id_b")
    return comps.select(F.col("node").alias("doc_id"), "component").orderBy("doc_id")


def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return textstats.token_stats(docs, "doc_id", "text")


def bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subword-pretokenizer accounting (textstats.bpe_token_stats): the
    GPT-2-style regex split both engines evaluate verbatim."""
    docs = load_table(spark, sf_dir, "documents")
    return textstats.bpe_token_stats(docs, "doc_id", "text").orderBy("doc_id")


def language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return textstats.language_id(docs, "doc_id", "text")


def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return textstats.quality_score(docs, "doc_id", "text")


def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return textstats.fingerprints(docs, "doc_id", "text", ngram=5)


def sample_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~10% hash-stable sample — identical membership on every run/engine."""
    docs = load_table(spark, sf_dir, "documents")
    return sampling.sample(docs, "doc_id", 0.10).select("doc_id", "lang")


def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language rates (downsample the dominant 'en', keep all 'de')."""
    docs = load_table(spark, sf_dir, "documents")
    out = sampling.stratified_sample(
        docs, "doc_id", "lang", {"en": 0.05, "de": 1.0, "fr": 0.5}
    )
    return out.select("doc_id", "lang")


MIX_ALPHA = 0.3


def lang_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened language mixture (sampling.temperature_mixing,
    alpha=0.3): the dominant 'en' slice is hash-deterministically
    downsampled toward the smallest language's share — XLM-R/mT5 corpus
    rebalancing as one broadcast-rate filter. The oracle recomputes the
    census, the (n_min/n_s)^0.7 keep rates, and the md5-bucket membership."""
    docs = load_table(spark, sf_dir, "documents")
    out = sampling.temperature_mixing(docs, "doc_id", "lang", alpha=MIX_ALPHA)
    return out.select("doc_id", "lang", "n_stratum", "keep_rate").orderBy("doc_id")


def _corpus_gates(docs: DataFrame) -> DataFrame:
    """docs + the four cleaning-gate columns (quality, pred_lang,
    is_duplicate, split) as ONE Catalyst plan — shared by corpus_clean
    (keep + summarize), corpus_clean_funnel (per-gate accounting),
    training_manifest and the Observation variant.

    Single-pass since r14 (guide §2.4): every gate except exact-dedup is a
    per-row expression and exact-dedup is one window over the content
    hash, so the gates ride the SAME scan as withColumns — the previous
    shape derived four single-column relations from four re-scans of docs
    and joined them back on doc_id (4 joins, 4 scans, 4 tokenizer runs).
    The per-row gate expressions are computed BEFORE the dedup window's
    exchange, on the fan_out'd scan stage: the window's own exchange is
    AQE-coalescible (ENSURE_REQUIREMENTS origin) down to one task at this
    data size, which would serialize the tokenizer-heavy expressions the
    old shape ran as four concurrent subtrees. Gate values are identical:
    quality/pred_lang come from the shared expression builders the
    standalone operators use (textstats.quality_expr /
    language_pred_expr), is_duplicate and split from the same operators
    as before (both already column-preserving)."""
    from ..sources import fan_out

    enriched = fan_out(docs).withColumns(
        {
            "quality": textstats.quality_expr(F.col("text")),
            "pred_lang": textstats.language_pred_expr(
                F.array_distinct(text_fns.tokens(F.col("text")))
            ),
            # token budget for training_manifest — same expression the
            # manifest would evaluate, computed here so it runs in the
            # fanned-out stage instead of the post-window (AQE-coalesced,
            # single-task at this size) aggregate stage
            "n_tokens": F.size(text_fns.tokens(F.col("text"))).cast("long"),
        }
    )
    gated = dedup.exact_dedup(enriched, "doc_id", "text").drop("content_hash")
    return sampling.dataset_split(gated, "doc_id")


def _corpus_keep():
    # built lazily: classic-mode Column construction needs an active context
    return (
        (F.col("quality") >= 0.5)
        & (F.col("pred_lang") == "en")
        & (~F.col("is_duplicate"))
        & (F.col("split") == "train")
    )


def corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composite cleaning pipeline — quality gate ∧ language gate ∧
    exact-dedup ∧ train-split, summarized per source.

    This is the end-to-end shape a 100 TB pretraining corpus run takes:
    every stage is a per-row expression or a hash-keyed window, composed as
    one Catalyst plan (scan once; no stage materializes the corpus).
    """
    docs = load_table(spark, sf_dir, "documents")
    kept = _corpus_gates(docs).where(_corpus_keep())
    return (
        kept.groupBy("source")
        .agg(F.count("*").alias("n_docs"), F.round(F.sum("quality"), 4).alias("sum_quality"))
        .orderBy("source")
    )


def corpus_clean_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source gate-by-gate retention accounting over the SAME gate plan
    as corpus_clean — the funnel a pipeline dashboard shows (how many docs
    each gate passes independently, and the kept conjunction). One fact
    aggregate; each gate is a flag sum, so the funnel costs one pass no
    matter how many gates compose."""
    docs = load_table(spark, sf_dir, "documents")
    flag = lambda c: F.sum(c.cast("long"))  # noqa: E731
    return (
        _corpus_gates(docs)
        .groupBy("source")
        .agg(
            F.count("*").alias("n_total"),
            flag(F.col("quality") >= 0.5).alias("n_quality"),
            flag(F.col("pred_lang") == "en").alias("n_lang"),
            flag(~F.col("is_duplicate")).alias("n_unique"),
            flag(F.col("split") == "train").alias("n_train"),
            flag(_corpus_keep()).alias("n_kept"),
        )
        .orderBy("source")
    )


def training_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The capstone accounting every pretraining run starts from: after the
    quality and dedup gates (language left free so the mix is visible),
    how many documents and TOKENS does each (split, language) cell actually
    contribute? This is the number the mixture weights, token budgets, and
    epoch math consume. One pass over the shared gate plan plus a
    token-count projection — no extra scans."""
    docs = load_table(spark, sf_dir, "documents")
    kept = _corpus_gates(docs).where(
        (F.col("quality") >= 0.5) & (~F.col("is_duplicate"))
    )
    return (
        kept.groupBy("split", "pred_lang")
        .agg(
            F.count("*").alias("n_docs"),
            # n_tokens rides the gate relation (same size(tokens(text))
            # expression, evaluated in the fanned-out gate stage — r14)
            F.sum(F.col("n_tokens")).alias("n_tokens"),
        )
        .orderBy("split", "pred_lang")
    )


def corpus_clean_observed(spark: SparkSession, sf_dir: str):
    """(result_df, Observation) — corpus_clean with Spark's native
    Observation metrics attached to the pre-filter relation: ONE action on
    the result also yields corpus-wide funnel counters (no second job, no
    second scan — the observe node is a free side-channel on the same
    pass). The numbers equal corpus_clean_funnel's totals; pinned in
    tests/test_observe.py."""
    from pyspark.sql import Observation

    docs = load_table(spark, sf_dir, "documents")
    obs = Observation("corpus_clean")
    flag = lambda c: F.sum(c.cast("long"))  # noqa: E731
    observed = _corpus_gates(docs).observe(
        obs,
        F.count(F.lit(1)).alias("n_total"),
        flag(F.col("quality") >= 0.5).alias("n_quality"),
        flag(F.col("pred_lang") == "en").alias("n_lang"),
        flag(~F.col("is_duplicate")).alias("n_unique"),
        flag(F.col("split") == "train").alias("n_train"),
        flag(_corpus_keep()).alias("n_kept"),
    )
    result = (
        observed.where(_corpus_keep())
        .groupBy("source")
        .agg(F.count("*").alias("n_docs"), F.round(F.sum("quality"), 4).alias("sum_quality"))
        .orderBy("source")
    )
    return result, obs


def dataset_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test assignment; counts per (split, lang)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        sampling.dataset_split(docs, "doc_id", val_frac=0.1, test_frac=0.1)
        .groupBy("split", "lang")
        .agg(F.count("*").alias("n"))
        .orderBy("split", "lang")
    )


def epoch_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch-1 training order (operators.ordering.epoch_order):
    every doc gets its (shard, pos) coordinate from the epoch-salted md5 —
    reproducible across reruns/cluster sizes, re-derivable by any engine
    with md5 (the oracle replays it row-for-row). One shuffle + per-shard
    sort; no global ORDER BY in the assignment itself (the trailing orderBy
    is presentation-only on the already-computed coordinates)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        ordering.epoch_order(docs.select("doc_id"), "doc_id", epoch=1, n_shards=8)
        .select("doc_id", "shard", "pos")
        .orderBy("shard", "pos")
    )


def epoch_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Loader-fleet manifest for epoch 1 (operators.ordering.shard_manifest):
    per-shard row count + character budget, the tiny relation a data-loader
    scheduler packs onto workers without scanning the corpus. n_shards
    output rows from map-side partials."""
    docs = load_table(spark, sf_dir, "documents")
    ordered = ordering.epoch_order(
        docs.select("doc_id", F.length("text").alias("n_chars")),
        "doc_id",
        epoch=1,
        n_shards=8,
    )
    return ordering.shard_manifest(ordered, len_col="n_chars")


def dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-revision near-dups (dedup.edit_distance_near_dups): LSH
    recall + banded-Levenshtein precision, edits ≤ 16. The oracle replays
    the minhash banding AND the edit distance — both engines agree
    pair-for-pair, edit-count-for-edit-count."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        dedup.edit_distance_near_dups(docs, "doc_id", "text", max_edits=16)
        .select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"), "edits")
        .orderBy("doc_a", "doc_b")
    )


def dedup_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source near-dup attribution: which sources duplicate which —
    the curation question behind per-source dedup budgets (a crawl that
    mostly re-serves another source's pages should be down-weighted at
    mixing time, cf. source_mixture_weights). One broadcast-sized join of
    the verified near-dup pair list back to the doc→source map, then a
    (source, source) rollup with the pair normalized so the matrix is
    upper-triangular — the corpus itself never reshuffles."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_near_dups(
        docs, "doc_id", "text", min_jaccard=0.7, bands=4, rows_per_band=2, shingle_n=3
    )
    src = docs.select("doc_id", "source")
    sa = src.select(F.col("doc_id").alias("id_a"), F.col("source").alias("_sa"))
    sb = src.select(F.col("doc_id").alias("id_b"), F.col("source").alias("_sb"))
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            F.least("_sa", "_sb").alias("source_a"),
            F.greatest("_sa", "_sb").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count("*").alias("n_pairs"))
        .orderBy("source_a", "source_b")
    )


def blob_dedup_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-addressable BLOB dedup (the multimodal twin of dedup_exact):
    utf-8 document bytes play the media blob (the module's binary
    convention), every blob keys by its md5 digest, and the manifest lists
    each duplicated digest with copy count, blob size, the bytes dedup
    saves ((n−1)·size — at 100 TB media bytes dominate storage, so this IS
    the storage bill), and the kept copy (min id). One digest groupBy;
    digests are 16 bytes however large the blobs are, so the shuffle never
    carries content. Planted duplicates (the dedup_exact corpus) make the
    manifest non-empty at every SF."""
    docs = _with_planted_dupes(load_table(spark, sf_dir, "documents"))
    blobs = docs.select(
        "doc_id",
        F.md5(F.encode("text", "utf-8")).alias("digest"),
        F.octet_length("text").alias("n_bytes"),
    )
    return (
        blobs.groupBy("digest")
        .agg(
            F.count("*").alias("n_copies"),
            F.max("n_bytes").alias("blob_bytes"),
            F.min("doc_id").alias("keeper_id"),
        )
        .where(F.col("n_copies") > 1)
        .select(
            "digest",
            "n_copies",
            F.col("blob_bytes").cast("long").alias("blob_bytes"),
            ((F.col("n_copies") - 1) * F.col("blob_bytes")).cast("long").alias("saved_bytes"),
            "keeper_id",
        )
        .orderBy("digest")
    )


def doc_quality_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier over (minimize length, maximize quality): the docs no
    other doc beats on both axes at once (operators.skyline) — the curation
    query a single weighted top-k cannot express. Strict dominance makes the
    answer a pure function of the value set; the oracle states it as NOT
    EXISTS. Two-phase window: per-bucket frontier first, exact pass over the
    tiny survivor union — the corpus never single-partition sorts."""
    from ..operators.skyline import pareto_frontier

    docs = load_table(spark, sf_dir, "documents")
    q = textstats.quality_score(docs, "doc_id", "text").select("doc_id", "quality")
    d = docs.select(
        "doc_id", F.length("text").cast("long").alias("n_chars")
    ).join(q, "doc_id")
    return (
        pareto_frontier(d, min_col="n_chars", max_col="quality")
        .select("doc_id", "n_chars", "quality")
        .orderBy("n_chars", "doc_id")
    )


def ppr_top_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERSONALIZED PageRank over the same synthetic link graph as
    pagerank_top_docs, teleporting only to the doc_id % 10 = 0 seed set —
    ranks become proximity-to-the-seeds (the "expand from these trusted
    domains" crawl-frontier query). Same decimal-exact accumulation, so the
    10-iteration personalized fixpoint replays bit-for-bit as chained CTEs;
    unreachable nodes rank exactly 0 by construction."""
    from ..operators.pagerank import pagerank

    docs = load_table(spark, sf_dir, "documents")
    n = docs.count()
    ids = docs.select("doc_id")
    edges = ids.select(
        F.col("doc_id").alias("src"),
        ((F.col("doc_id") * 31 + 7) % n).alias("dst"),
    ).unionAll(
        ids.select(
            F.col("doc_id").alias("src"),
            ((F.col("doc_id") * 17 + 3) % n).alias("dst"),
        )
    )
    seeds = ids.where(F.col("doc_id") % 10 == 0)
    pr = pagerank(edges, iterations=10, shuffle_partitions=8, seeds=seeds)
    return (
        pr.select("node", F.round("rank", 10).alias("rank"))
        .orderBy(F.desc("rank"), F.asc("node"))
        .limit(20)
    )


def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit (operators.pii.k_anonymity_violations) over
    customer quasi-identifiers (nation, segment, balance band): combos
    hiding fewer than k=5 individuals — the release-safety complement of
    PII redaction. The small-SF results show the real dynamic: a 150-row
    release is almost entirely re-identifiable (140 violating combos), a
    15k-row one nearly safe (2) — k-anonymity is a property of the release
    SIZE as much as of the schema."""
    from ..operators.pii import k_anonymity_violations

    cust = load_table(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 2000).cast("long").alias("bal_band"),
    )
    return k_anonymity_violations(
        cust, ["c_nationkey", "c_mktsegment", "bal_band"], k=5
    )


def l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (operators.pii.l_diversity_violations): (nation,
    segment) groups whose balance-band diversity is < 4 — the homogeneity
    attack k-anonymity misses. Exact count-distinct per group, report ∝
    violating combos."""
    from ..operators.pii import l_diversity_violations

    cust = load_table(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 2000).cast("long").alias("bal_band"),
    )
    return l_diversity_violations(
        cust, ["c_nationkey", "c_mktsegment"], "bal_band", l=4
    )


def t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (operators.pii.t_closeness_violations): (nation,
    segment) groups whose balance-band distribution sits > 0.35
    total-variation from the table-wide one — the skewed-distribution
    leak that passes BOTH the k and l audits (a group can hide 12 people
    across 4 bands and still be conspicuously top-heavy). Completes the
    release-safety ladder k → l → t over the same quasi-identifiers and
    release bands."""
    from ..operators.pii import t_closeness_violations

    cust = load_table(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 2000).cast("long").alias("bal_band"),
    )
    return t_closeness_violations(
        cust, ["c_nationkey", "c_mktsegment"], "bal_band", t=0.35
    )


def link_hop_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS crawl depth (graph.hop_distances) from the doc_id % 50 = 0 seed
    frontier over the same directed synthetic link graph as the PageRank
    queries — min hops within 6; frontier semantics make the answer a pure
    function of the graph, replayed by a bounded recursive-CTE min(hops)."""
    from ..operators.graph import hop_distances

    docs = load_table(spark, sf_dir, "documents")
    n = docs.count()
    ids = docs.select("doc_id")
    edges = ids.select(
        F.col("doc_id").alias("src"),
        ((F.col("doc_id") * 31 + 7) % n).alias("dst"),
    ).unionAll(
        ids.select(
            F.col("doc_id").alias("src"),
            ((F.col("doc_id") * 17 + 3) % n).alias("dst"),
        )
    )
    seeds = ids.where(F.col("doc_id") % 50 == 0)
    return hop_distances(edges, seeds, max_hops=6).orderBy("hops", "node")


def dense_doc_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-free global ids 0..n-1 (operators.ordering.dense_ids) without a
    single-partition window over the corpus: per-shard bounded rank + a
    broadcast prefix-sum of the 64-row shard census. The realized order is
    the salted-hash order, so the oracle replays it as one global
    row_number — the engines agree id-for-id."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        ordering.dense_ids(docs.select("doc_id"), "doc_id")
        .select("doc_id", "dense_id")
        .orderBy("dense_id")
    )


def gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style structural quality gate (operators.quality_rules): one
    map-only projection per doc, rule metrics + pass/fail conjunction."""
    from ..operators.quality_rules import gopher_rules
    from ..sources import fan_out

    docs = load_table(spark, sf_dir, "documents")
    # min_stop_hits=1: the synthetic corpus has a thin stopword profile, and
    # a pass column that actually discriminates exercises the conjunction.
    # fan_out (r13, guide §2.5): the rule expressions fuse into the scan
    # stage, pinning all tokenize/regex work on the single-row-group file's
    # one task; pre-split deployment inputs skip the repartition.
    return gopher_rules(fan_out(docs), "doc_id", "text", min_stop_hits=1).orderBy(
        "doc_id"
    )


def duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-doc duplicated 5-gram profile (exact-substring-dedup proxy)."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.duplicate_spans(docs, "doc_id", "text", n=5).orderBy("doc_id")


def char_entropy_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc character-distribution Shannon entropy (textstats.char_entropy,
    Arrow kernel path — the sql twin is pinned equal in tests)."""
    docs = load_table(spark, sf_dir, "documents")
    return textstats.char_entropy(docs, "doc_id", "text").orderBy("doc_id")


def dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dup canonicalization: exact-jaccard pair graph →
    connected components → longest-doc-wins canonical election → every doc
    labeled (canonical_id, is_kept). The full LSH→verify→cluster→keep-best
    sequence a production dedup pass runs, as ONE lazy plan."""
    docs = load_table(spark, sf_dir, "documents")
    sh = dedup.shingle_table(docs, "doc_id", "text", n=3, with_size=True)
    pairs = dedup.jaccard_pairs(sh, min_jaccard=0.5)
    return dedup.canonicalize(docs, pairs, "doc_id", length_col="n_chars").orderBy(
        "doc_id"
    )


def embedding_sign_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coarse semantic clustering of the embeddings table: 8-bit axis-sign
    bucket (functions.vector.sign_bucket) → per-bucket size and mean L2
    norm. Map-only projection + one tiny aggregate (≤256 groups)."""
    from ..functions.vector import norm, sign_bucket

    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select(
            sign_bucket(F.col("embedding"), bits=8).alias("bucket"),
            norm(F.col("embedding")).alias("_n"),
        )
        .groupBy("bucket")
        .agg(F.count("*").alias("n_vectors"), F.round(F.avg("_n"), 6).alias("mean_norm"))
        .orderBy("bucket")
    )


def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash Hamming≤3 near-dup pairs via exact band-bucketing
    (dedup.simhash_pairs; the oracle does the exhaustive O(n²) popcount
    join, pinning that banding loses nothing at this Hamming radius)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        dedup.simhash_pairs(docs, "doc_id", "text", bits=32, bands=4, max_hamming=3)
        .select(
            F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"), "hamming"
        )
        .orderBy("doc_a", "doc_b")
    )


def doc_keywords_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per doc by smoothed TF-IDF
    (textstats.doc_keywords)."""
    docs = load_table(spark, sf_dir, "documents")
    return textstats.doc_keywords(docs, "doc_id", "text", k=3).orderBy(
        "doc_id", "rank"
    )


def source_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture construction: per-source token totals and
    temperature-scaled sampling weights ∝ tokens^0.3 (the multilingual-
    sampling exponent family of Conneau & Lample 2019). Token counts are a
    zero-explode HOF aggregate; the weight normalization is a window over
    the ~|sources| aggregate, never the corpus."""
    from pyspark.sql import Window

    from ..functions.text import token_count

    docs = load_table(spark, sf_dir, "documents")
    per = (
        docs.groupBy("source")
        .agg(F.sum(token_count(F.col("text"))).alias("n_tokens"))
        .withColumn("_raw", F.pow(F.col("n_tokens").cast("double"), F.lit(0.3)))
    )
    return per.select(
        "source",
        "n_tokens",
        F.round(F.col("_raw") / F.sum("_raw").over(Window.partitionBy()), 6).alias(
            "weight"
        ),
    ).orderBy("source")


def dedup_embedding_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed embedding near-dup (dedup.embedding_near_dups_ivf) in
    its degenerate-EXACT configuration: nprobe == n_clusters (= 2) assigns
    every row to every cluster, so every pair shares a bucket and the output
    provably equals the exact all-pairs kernel — which makes the full
    KMeans-fit → multi-probe assign → per-bucket BLAS → cross-bucket
    distinct code path hash-checkable against the SAME oracle SQL as
    dedup_embedding_cosine. The sub-quadratic configuration
    (nprobe < n_clusters, Σ bucket² ≪ n²) is the 100 TB path; its
    soundness + recall floor are pinned in tests/test_dedup_ivf.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    # few KMeans iterations: under nprobe == n_clusters ANY centroids are
    # exact, so the fit only needs to exist, not converge
    out = dedup.embedding_near_dups_ivf(
        emb, "vec_id", "embedding", threshold=0.45, n_clusters=2, nprobe=2,
        kmeans_max_iter=2,
    )
    return out.select(
        F.col("id_a").alias("vec_a"), F.col("id_b").alias("vec_b"), "cos"
    )


# multimodal resize fixture: each doc's text bytes (ASCII in this corpus, so
# char == byte in BOTH engines' rpad/substring) play a raw-rgb image
RESIZE_SRC, RESIZE_OUT = 32, 16


def multimodal_resize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-resize pipeline over raw-rgb media built from real testdata
    bytes: each document's text, right-padded/truncated to 32·32·3 bytes,
    is a 32×32 raw-rgb image; resize_images nearest-neighbor-downsamples it
    to 16×16 inside the Arrow kernel, and the result is fingerprinted
    (dims, byte length, md5). The DuckDB oracle replays the exact gather —
    out pixel (r, c) reads the 3 src bytes at ((2r)·32 + 2c)·3 — so the
    resize index math, the raw-rgb decode dispatch, and the meta rewrite
    are hash-checked, not just smoke-run. (The md5-chain fake-decode path
    is deliberately NOT under this query: it is not SQL-expressible; its
    pixel contract lives in tests/test_multimodal.py.)"""
    from ..multimodal import resize_images

    docs = load_table(spark, sf_dir, "documents")
    n_src_bytes = RESIZE_SRC * RESIZE_SRC * 3
    par = spark.sparkContext.defaultParallelism
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode(F.rpad(F.col("text"), n_src_bytes, " "), "utf-8").alias("content"),
        F.struct(
            F.lit(RESIZE_SRC).alias("width"),
            F.lit(RESIZE_SRC).alias("height"),
            F.lit(None).cast("int").alias("sample_rate"),
            F.lit(None).cast("int").alias("duration_ms"),
            F.lit("raw-rgb").alias("format"),
        ).alias("meta"),
    ).repartition(par)  # single-split local fixture; pre-split on a cluster
    resized = resize_images(media, width=RESIZE_OUT, height=RESIZE_OUT)
    return resized.select(
        F.col("media_id").alias("doc_id"),
        F.col("meta.width").alias("out_w"),
        F.col("meta.height").alias("out_h"),
        F.length("content").cast("long").alias("n_bytes"),
        F.md5("content").alias("content_md5"),
    ).orderBy("doc_id")


PACK_CAPACITY, PACK_GROUPS = 128, 8
PHRASE_PROBE = "fast table"
SOURCE_CAP = 20


def seq_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence packing (operators.packing.pack_sequences):
    documents hash-bucketed into PACK_GROUPS independent packers, next-fit
    into PACK_CAPACITY-token context windows. Output = the full per-doc
    (pack_group, bin_idx, bin_offset) layout; the DuckDB oracle replays the
    fold as a recursive CTE, bit-for-bit."""
    from ..functions.text import token_count
    from ..operators.packing import pack_sequences

    docs = load_table(spark, sf_dir, "documents")
    lens = docs.select("doc_id", token_count(F.col("text")).alias("n_tokens"))
    return pack_sequences(
        lens, "doc_id", "n_tokens", capacity=PACK_CAPACITY, n_groups=PACK_GROUPS
    ).orderBy("doc_id")


def phrase_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase search via the positional inverted index
    (operators.phrase.phrase_search) — overlap-counting positional join,
    not a string scan."""
    from ..operators.phrase import phrase_search

    docs = load_table(spark, sf_dir, "documents")
    return phrase_search(
        docs, PHRASE_PROBE, id_col="doc_id", text_col="text"
    ).orderBy("doc_id")


def source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap (operators.packing.cap_per_group) — the
    per-domain ceiling a crawl pipeline applies; deterministic hash-order
    selection, never scan order."""
    from ..operators.packing import cap_per_group

    docs = load_table(spark, sf_dir, "documents")
    return (
        cap_per_group(docs, "source", "doc_id", SOURCE_CAP)
        .select("doc_id", "source")
        .orderBy("doc_id")
    )


SPAN_TOKENS = 8


def span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style duplicate-span removal (dedup.span_dedup) over the corpus:
    disjoint 8-token spans, first global occurrence wins, per-doc output is
    (n_spans, n_kept, md5 of the kept spans in document order) — the oracle
    hash-checks the exact post-removal text of every document."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.span_dedup(
        docs, "doc_id", "text", span_tokens=SPAN_TOKENS
    ).orderBy("doc_id")


# incremental-dedup fixture: a "new crawl snapshot" of exact re-crawls
# (every 25th doc) and truncated-to-half re-crawls (every 40th doc)
INCR_COPY_STEP, INCR_COPY_OFFSET = 25, 30_000
INCR_HALF_STEP, INCR_HALF_OFFSET = 40, 40_000


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup dedup (dedup.jaccard_pairs_between): a new crawl
    snapshot — exact re-crawls and truncated half-docs planted from the real
    corpus — checked against the existing corpus by exact shingle Jaccard,
    base×new candidate pairs only. The ingest-time shape: the base corpus
    never re-pairs against itself."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", "text")
    copies = docs.where(F.col("doc_id") % INCR_COPY_STEP == 0).select(
        (F.col("doc_id") + INCR_COPY_OFFSET).alias("doc_id"), "text"
    )
    halves = docs.where(F.col("doc_id") % INCR_HALF_STEP == 0).select(
        (F.col("doc_id") + INCR_HALF_OFFSET).alias("doc_id"),
        F.expr("substring(text, 1, cast(floor(n_chars / 2) as int))").alias("text"),
    )
    incoming = copies.unionAll(halves)
    sh_base = dedup.shingle_table(base, "doc_id", "text", n=3, with_size=True)
    sh_new = dedup.shingle_table(incoming, "doc_id", "text", n=3, with_size=True)
    out = dedup.jaccard_pairs_between(sh_base, sh_new, min_jaccard=0.5)
    return out.select(
        F.col("id_base").alias("base_id"),
        F.col("id_new").alias("new_id"),
        F.round("jaccard", 6).alias("jaccard"),
    )


def nb_language_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear bag-of-words classifier (operators.classifier): train a
    naive-Bayes log-odds model on the corpus's own lang labels
    (en vs rest) and sweep the same corpus — the fastText-style
    quality/language gate of a pretraining pipeline, as ONE lazy plan.
    Closed-form training makes the whole fit+score path hash-checkable in
    SQL (no SGD state); weights are vocab-sized, so the scoring join carries
    no broadcast hint — AQE broadcasts while the vocabulary measures small
    and shuffles on the token key once it doesn't."""
    from ..operators.classifier import nb_self_score

    docs = load_table(spark, sf_dir, "documents")
    return nb_self_score(
        docs, "doc_id", "text", "lang", positive="en"
    ).orderBy("doc_id")


FRAME_EVERY_MS = 600


def frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling pipeline (multimodal.sample_frames) over fake
    videos built from real testdata bytes: each document's text is the
    container payload and its declared duration is 500 + (n_chars % 2500) ms,
    sampled every 600 ms. The DuckDB oracle replays the sampling schedule —
    frame at every t in range(0, duration, 600), frame_idx = t // 600, 64
    fake-frame bytes — so the fan-out shape and Arrow plumbing are
    hash-checked; the frame BYTES are the deterministic md5-chain fake
    (pixel contract pinned in tests/test_multimodal.py, not SQL-expressible)."""
    from ..multimodal import sample_frames

    docs = load_table(spark, sf_dir, "documents")
    par = spark.sparkContext.defaultParallelism
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("video").alias("kind"),
        F.encode(F.col("text"), "utf-8").alias("content"),
        F.struct(
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("int").alias("sample_rate"),
            (F.lit(500) + F.col("n_chars") % 2500).cast("int").alias("duration_ms"),
            F.lit("fake").alias("format"),
        ).alias("meta"),
    ).repartition(par)  # single-split local fixture; pre-split on a cluster
    frames = sample_frames(media, every_ms=FRAME_EVERY_MS)
    return frames.select(
        F.col("media_id").alias("doc_id"),
        "frame_idx",
        "t_ms",
        F.length("frame").alias("n_frame_bytes"),
    ).orderBy("doc_id", "frame_idx")


def skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-phase aggregation (operators.skew.salted_agg) over the
    skewed event_type key: phase 1 groups by (key, salt) so a hot key's rows
    spread over `factor` reducers, phase 2 merges the ≤ factor partials per
    key. Algebraic merges make the result IDENTICAL to the plain groupBy —
    which is exactly what the oracle runs (one un-salted GROUP BY), so the
    driver hash-checks the equivalence, not just the shape. Decimal sums
    keep the two-phase fold order-independent."""
    from ..operators.skew import salted_agg

    events = load_table(spark, sf_dir, "events")
    dec = "decimal(18,4)"
    out = salted_agg(
        events,
        ["event_type"],
        {
            "n_events": ("sum", F.count("*")),
            "sum_value": ("sum", F.sum(F.col("value").cast(dec))),
            "max_value": ("max", F.max("value")),
        },
        factor=8,
    )
    return out.select(
        "event_type",
        "n_events",
        F.col("sum_value").cast("double").alias("sum_value"),
        "max_value",
    ).orderBy("event_type")


ZORDER_BITS = 8
ZORDER_VALUE_HI = 600.0  # fixed-domain contract: events.value ∈ [0, 600)


def zorder_bucket_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering key (functions.zorder) as a driver query: Morton-
    interleave hour-of-day with the bucketized event value (8 bits each,
    fixed [0, 600) domain so no driver-side min/max job), then count rows
    per 64-key range — the per-file histogram a Z-ORDER export would
    produce. The oracle replays the bit interleave unrolled to 16 shift-mask
    terms, so the key arithmetic itself is hash-checked. All codegen bit
    ops; the only shuffle is the final 1024-row aggregate."""
    from ..functions.zorder import bucketize, zorder_key

    events = load_table(spark, sf_dir, "events")
    zkey = zorder_key(
        bucketize(F.col("value"), 0.0, ZORDER_VALUE_HI, bits=ZORDER_BITS),
        F.hour("ts"),
        bits=ZORDER_BITS,
    )
    return (
        events.select(F.shiftright(zkey, 6).alias("zbucket"))
        .groupBy("zbucket")
        .agg(F.count("*").alias("n_events"))
        .orderBy("zbucket")
    )


def weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement (A-ES,
    operators/sampling.weighted_sample_k): 50 documents drawn proportional
    to length (n_chars + 1) — the "sample long documents more" draw quality
    audits use. Selection is a pure md5 function of (doc_id, weight), so
    the oracle replays it row-for-row."""
    docs = load_table(spark, sf_dir, "documents")
    weighted = docs.withColumn("w", F.col("n_chars").cast("double") + F.lit(1.0))
    out = sampling.weighted_sample_k(weighted, "doc_id", "w", 50, salt="wsk")
    return out.select("doc_id", "lang").orderBy("doc_id")


def snapshot_diff_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff (operators/snapshots.py) between the documents table
    and a synthetic next crawl: every 17th doc dropped (removed), every
    13th doc's text amended (modified), every 19th doc re-ingested under a
    shifted id (added). The diff joins on (key, md5 fingerprint) — the
    shuffle never carries text — and returns the change set plus the
    status rollup spine for monitoring."""
    from ..operators.snapshots import snapshot_diff

    docs = load_table(spark, sf_dir, "documents")
    old = docs.select("doc_id", "text")
    surviving = old.where(F.col("doc_id") % 17 != 0)
    modified = surviving.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 13 == 0, F.concat(F.col("text"), F.lit(" [rev2]"))
        ).otherwise(F.col("text")).alias("text"),
    )
    added = old.where(F.col("doc_id") % 19 == 0).select(
        (F.col("doc_id") + F.lit(500_000)).alias("doc_id"), "text"
    )
    new = modified.unionAll(added)
    out = snapshot_diff(old, new, "doc_id", "text")
    return out.orderBy("status", "key")


def components_materialized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The >=0.5-jaccard connected-components relation, materialized ONCE
    per sf_dir (an artifacts.materialize parquet artifact) and
    shared by every downstream consumer — the 100 TB shape the r6 verdict
    asked for: the component fixpoint is its own job whose OUTPUT is a
    table; canonical election, cluster-size audits, purge lists etc. read
    that table instead of each re-running shingles → pairs → O(log n) star
    rounds. The self-contained queries (dedup_canonical,
    dedup_cluster_sizes) stay as-is so each remains independently
    oracle-replayable; the *_shared twins below are pinned equal to them in
    tests/test_graph.py and answer to the same oracles."""

    def build() -> DataFrame:
        from ..operators.graph import connected_components

        docs = load_table(spark, sf_dir, "documents")
        sh = dedup.shingle_table(docs, "doc_id", "text", n=3, with_size=True)
        pairs = dedup.jaccard_pairs(sh, min_jaccard=0.5)
        comps = connected_components(pairs, "id_a", "id_b")
        return artifacts.materialize(spark, "components", sf_dir, comps)

    return artifacts.get(spark, "components", sf_dir, build)


def dedup_canonical_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_canonical's output computed FROM the materialized components
    table (components_materialized) instead of recomputing the closure —
    same rows, same oracle; the bench delta between this row and
    dedup_canonical is the price of recomputing the closure per query."""
    docs = load_table(spark, sf_dir, "documents")
    comps = components_materialized(spark, sf_dir)
    return dedup.canonicalize(
        docs, components=comps, id_col="doc_id", length_col="n_chars"
    ).orderBy("doc_id")


def dedup_cluster_sizes_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_cluster_sizes' double rollup read off the materialized
    components table — same rows, same oracle as the self-contained query."""
    comps = components_materialized(spark, sf_dir)
    sizes = comps.groupBy("component").agg(F.count("*").alias("cluster_size"))
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count("*").alias("n_clusters"))
        .orderBy("cluster_size")
    )


def dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate cluster-size distribution: (cluster_size, n_clusters)
    over the >=0.5-jaccard connected components — the shape a dedup audit
    reads first (a heavy tail of giant clusters usually means boilerplate
    or a degenerate shingle, not real duplication). Two tiny aggregates on
    top of the components relation, which is pairs-sized, never corpus-
    sized; the oracle extends the recursive-CTE closure with the same
    double rollup."""
    from ..operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents")
    sh = dedup.shingle_table(docs, "doc_id", "text", n=3, with_size=True)
    pairs = dedup.jaccard_pairs(sh, min_jaccard=0.5)
    comps = connected_components(pairs, "id_a", "id_b")
    sizes = comps.groupBy("component").agg(F.count("*").alias("cluster_size"))
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count("*").alias("n_clusters"))
        .orderBy("cluster_size")
    )


def _bpe_trained(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Train once per sf_dir; the merge table AND the trained segmentation
    are both training OUTPUTS (the seg is localCheckpointed by the loop), so
    the vocab-usage query reads them instead of re-running 10 iterations —
    the same materialize-once policy as components_materialized."""
    from ..operators.bpe_train import train_bpe

    return artifacts.get(
        spark, "bpe", sf_dir,
        lambda: train_bpe(
            load_table(spark, sf_dir, "documents"), merges=10, shuffle_partitions=8
        ),
    )


def bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE merge learning (operators/bpe_train.py): the first 10
    merges learned over the documents corpus' word frequencies — pair count
    → top merge → re-segment as an iterative DataFrame fixpoint (the
    pagerank.py lineage/determinism policy: integer-exact counts, total-order
    tie-breaks, localCheckpoint per round). The oracle replays all 10
    iterations as a chained, materialized CTE; a property test additionally
    pins the learner against an independent pure-Python implementation
    (tests/test_bpe_train.py)."""
    return _bpe_trained(spark, sf_dir)[0]


def bpe_vocab_usage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus usage of the LEARNED subword vocabulary: top-20 tokens of the
    trained segmentation by frequency-weighted occurrence count — the
    histogram a tokenizer report leads with (it shows which merges carry
    corpus mass). Reads the training output (one shared train_bpe per
    sf_dir); the oracle re-learns the same 10 merges in its chained CTE and
    rolls up the final segment table."""
    from ..operators.bpe_train import vocab_usage

    return vocab_usage(_bpe_trained(spark, sf_dir)[1], topk=20)


def bpe_learned_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fertility of the LEARNED 10-merge BPE tokenizer, by language — the
    after-training counterpart to token_fertility_by_lang (which measures
    the pre-tokenizer): corpus words join the trained word → segmentation
    table for their post-merge token counts, rolled up per lang. The
    segmentation table is vocabulary-sized — it grows with the corpus — so
    the join carries no broadcast hint; AQE broadcasts it while it measures
    small and shuffles on the word key at scale. The oracle re-learns the
    same merges in its chained CTE and replays the join."""
    docs = load_table(spark, sf_dir, "documents")
    seg = _bpe_trained(spark, sf_dir)[1]
    words = docs.select(
        "lang",
        F.explode(
            F.filter(F.split(F.lower(F.col("text")), "[^a-z]+"), lambda t: t != "")
        ).alias("word"),
    )
    ntok = seg.select(
        "word", F.size(F.split(F.trim(F.col("seq")), " ")).cast("long").alias("_nt")
    )
    return (
        words.join(ntok, "word")
        .groupBy("lang")
        .agg(
            F.sum("_nt").alias("bpe_tokens"),
            F.count("*").alias("words"),
            F.round(F.sum("_nt") / F.count("*"), 6).alias("fertility"),
        )
        .orderBy("lang")
    )


def token_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility: BPE-ish subword tokens per whitespace word, by
    language — THE go/no-go number for a tokenizer on a multilingual corpus
    (fertility >> 1.5 for a language means its text costs that much more
    context budget). One pass computing both counts per doc from the shared
    Arrow kernel + regexp count, then a lang-sized rollup."""
    docs = load_table(spark, sf_dir, "documents")
    pieces = F.regexp_extract_all(
        F.lower(F.col("text")), F.lit(textstats.BPE_PRETOKEN_RE), 0
    )
    words = F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != "")
    counted = docs.select(
        "lang",
        F.size(pieces).cast("long").alias("n_pieces"),
        F.size(words).cast("long").alias("n_words"),
    )
    return (
        counted.groupBy("lang")
        .agg(
            F.sum("n_pieces").alias("bpe_tokens"),
            F.sum("n_words").alias("words"),
            F.round(
                F.sum("n_pieces") / F.greatest(F.sum("n_words"), F.lit(1)), 6
            ).alias("fertility"),
        )
        .orderBy("lang")
    )


def nb_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier evaluation: the (actual, predicted) 2x2 confusion matrix
    of the closed-form NB language gate scored over its own training corpus
    — fit, score, and rollup as ONE lazy plan (precision/recall derive from
    these four counts). The oracle replays the identical closed-form
    scoring and aggregation."""
    from ..operators.classifier import nb_self_score

    docs = load_table(spark, sf_dir, "documents")
    scored = nb_self_score(docs, "doc_id", "text", "lang", positive="en")
    labeled = scored.join(
        docs.select("doc_id", (F.col("lang") == "en").alias("actual_en")),
        "doc_id",
    )
    return (
        labeled.groupBy("actual_en", F.col("pred").alias("pred_en"))
        .agg(F.count("*").alias("n"))
        .orderBy("actual_en", "pred_en")
    )


def quality_band_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum planning: docs and token mass per fixed 0.1-wide quality
    band. Band assignment is a map-side expression over the quality scorer
    (deliberately NOT deciles: an ntile/percentile tiering would need a
    global sort or interpolated quantiles — fixed bands keep the plan one
    aggregate and the band boundaries engine-exact)."""
    docs = load_table(spark, sf_dir, "documents")
    q = textstats.quality_score(docs, "doc_id", "text")
    band = F.least(F.floor(F.col("quality") * 10), F.lit(9)).cast("long")
    return (
        q.groupBy(band.alias("band"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.round(F.min("quality"), 6).alias("min_quality"),
            F.round(F.max("quality"), 6).alias("max_quality"),
        )
        .orderBy("band")
    )


def pagerank_top_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (operators/pagerank.py) over a deterministic synthetic link
    graph on the documents table (the corpus carries no links, so each doc
    links to (id*31+7) % N and (id*17+3) % N — a fixture both engines build
    identically, same policy as the planted URL/PII fixtures). Top-20 by
    rank; 10 damped iterations, DECIMAL(38,12)-exact accumulation, so the
    whole iterative fixpoint is replayed bit-for-bit by a 10-stage chained
    CTE in the oracle."""
    from ..operators.pagerank import pagerank

    docs = load_table(spark, sf_dir, "documents")
    n = docs.count()
    ids = docs.select("doc_id")
    edges = ids.select(
        F.col("doc_id").alias("src"),
        ((F.col("doc_id") * 31 + 7) % n).alias("dst"),
    ).unionAll(
        ids.select(
            F.col("doc_id").alias("src"),
            ((F.col("doc_id") * 17 + 3) % n).alias("dst"),
        )
    )
    pr = pagerank(edges, iterations=10, shuffle_partitions=8)
    return (
        pr.select("node", F.round("rank", 10).alias("rank"))
        .orderBy(F.desc("rank"), F.asc("node"))
        .limit(20)
    )


def bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-ranked phrase mining: pointwise mutual information of
    adjacent token pairs, PMI = ln((c_ab/B) / ((c_a/N)·(c_b/N))) over
    OCCURRENCE counts (top_bigrams ranks by document frequency; PMI
    surfaces collocations that co-occur far above chance — the phrase-list
    builder for tokenizer/stopword work). Pairs with c_ab < 5 are cut (PMI
    is unstable on rare counts); top-20 by (rounded PMI DESC, bigram ASC).
    Plan: one token explosion feeds both the unigram and bigram counts
    (vocab-sized aggregates); totals are 1-row broadcast crossJoins; ln on
    an identical double expression chain is engine-exact (the BM25 oracle
    precedent)."""
    from ..functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    ts = docs.select(tokens(F.col("text")).alias("ts"))
    uni = (
        ts.select(F.explode("ts").alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").cast("double").alias("c"))
    )
    n_tot = uni.agg(F.sum("c").alias("n_total"))
    pairs = F.zip_with(
        F.slice(F.col("ts"), 1, F.size("ts") - 1),
        F.slice(F.col("ts"), 2, F.size("ts") - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    bi = (
        ts.select(F.explode(pairs).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").cast("double").alias("cab"))
        .where(F.col("cab") >= 5)
    )
    b_tot = bi.agg(F.sum("cab").alias("b_total"))
    left = F.split(F.col("bigram"), " ").getItem(0)
    right = F.split(F.col("bigram"), " ").getItem(1)
    joined = (
        bi.withColumn("tok_a", left)
        .withColumn("tok_b", right)
        .join(uni.select(F.col("tok").alias("tok_a"), F.col("c").alias("ca")), "tok_a")
        .join(uni.select(F.col("tok").alias("tok_b"), F.col("c").alias("cb")), "tok_b")
        .crossJoin(F.broadcast(n_tot))
        .crossJoin(F.broadcast(b_tot))
    )
    pmi = F.log(
        (F.col("cab") / F.col("b_total"))
        / ((F.col("ca") / F.col("n_total")) * (F.col("cb") / F.col("n_total")))
    )
    return (
        joined.select(
            "bigram",
            F.col("cab").cast("long").alias("n_pair"),
            F.round(pmi, 6).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), F.asc("bigram"))
        .limit(20)
    )


def lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-propagation communities (operators/graph.label_propagation)
    over the same deterministic synthetic link graph as pagerank_top_docs —
    the community-detection member of the graph family. 5 synchronous
    rounds with (count DESC, label ASC) tie-breaks make the per-node
    community assignment a pure function of the graph, so the oracle
    replays every round as a chained CTE. Returns all (doc_id, community)
    rows — the full partition is hash-checked, not a summary."""
    from ..operators.graph import label_propagation

    docs = load_table(spark, sf_dir, "documents")
    n = docs.count()
    ids = docs.select("doc_id")
    edges = ids.select(
        F.col("doc_id").alias("src"),
        ((F.col("doc_id") * 31 + 7) % n).alias("dst"),
    ).unionAll(
        ids.select(
            F.col("doc_id").alias("src"),
            ((F.col("doc_id") * 17 + 3) % n).alias("dst"),
        )
    )
    comm = label_propagation(edges, iterations=5)
    return comm.select(
        F.col("node").alias("doc_id"), "community"
    ).orderBy("doc_id")


AUDIO_RATE, AUDIO_WIN_MS, AUDIO_HOP_MS = 16_000, 25, 10


def audio_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio framing schedule (multimodal.audio_windows) over synthetic
    clips built from real testdata: duration_ms = 500 + n_chars % 2500 (the
    frame_sample convention), 16 kHz. The driver-checked surface is the
    SCHEDULE — window index, start, sample count per full 25ms/10ms-hop
    window — which the oracle replays with generate_series; the fake-PCM
    window bytes and their RMS are pinned in tests/test_multimodal.py
    (md5-chain content isn't SQL-expressible), mirroring frame_sample."""
    from ..multimodal import audio_windows

    docs = load_table(spark, sf_dir, "documents")
    par = spark.sparkContext.defaultParallelism
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("audio").alias("kind"),
        F.encode(F.substring("text", 1, 64), "utf-8").alias("content"),
        F.struct(
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(AUDIO_RATE).alias("sample_rate"),
            (F.lit(500) + F.col("n_chars") % 2500).cast("int").alias("duration_ms"),
            F.lit("pcm-u8").alias("format"),
        ).alias("meta"),
    ).repartition(par)  # single-split local fixture; pre-split on a cluster
    # payload="schedule" (r14, guide §4.1): this aggregate reads only the
    # schedule columns, so the kernel neither generates the fake-PCM
    # samples (an md5 call per 16 bytes of audio) nor Arrow-ships the
    # window payload it would throw away — identical schedule values.
    wins = audio_windows(
        media, win_ms=AUDIO_WIN_MS, hop_ms=AUDIO_HOP_MS, payload="schedule"
    )
    return (
        wins.groupBy(F.col("media_id").alias("doc_id"))
        .agg(
            F.count("*").alias("n_windows"),
            F.max("start_ms").alias("last_start_ms"),
            F.sum("n_samples").alias("total_samples"),
        )
        .orderBy("doc_id")
    )


def wav_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL-bytes audio lane: one planted ±A square-wave WAV per doc
    (multimodal.synthetic_wav_corpus — stdlib RIFF/PCM codec, no
    dependencies), decoded and framed executor-side through the SAME
    audio_windows operator path as audio_window_stats. The schedule
    columns (n_windows, last_start_ms, total_samples) come from the
    DECODED header — rate and sample count read out of the RIFF bytes,
    never from metadata — and rms_lo/rms_hi pin sample fidelity: every
    |sample| equals the planted amplitude, so the RMS of every 25 ms
    window is EXACTLY A = 1000 + (doc_id % 7)·500, alignment-free and
    hence SQL-replayable (the PNG lane's planted-geometry contract,
    ported to audio). A decode that misreads the header length, sample
    width, or byte order shifts every one of these numbers."""
    from .. import multimodal

    docs = load_table(spark, sf_dir, "documents")
    par = spark.sparkContext.defaultParallelism
    media = multimodal.synthetic_wav_corpus(docs.repartition(par))
    # payload="rms" (r14, guide §4.1): the aggregate reads schedule + RMS,
    # never the window bytes — the decode and RMS arithmetic are unchanged,
    # only the dominant byte payload is no longer Arrow-shipped
    wins = multimodal.audio_windows(
        media, win_ms=AUDIO_WIN_MS, hop_ms=AUDIO_HOP_MS, payload="rms"
    )
    return (
        wins.groupBy(F.col("media_id").alias("doc_id"))
        .agg(
            F.count("*").alias("n_windows"),
            F.max("start_ms").alias("last_start_ms"),
            F.sum("n_samples").alias("total_samples"),
            F.round(F.min("rms_u8"), 6).alias("rms_lo"),
            F.round(F.max("rms_u8"), 6).alias("rms_hi"),
        )
        .orderBy("doc_id")
    )


def snapshot_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 SCD history (operators/snapshots.scd2_merge) over the same
    synthetic next-crawl pair as snapshot_diff — per key, fingerprint
    validity intervals with a current flag; the history a warehouse keeps
    so any past snapshot is reconstructable."""
    from ..operators.snapshots import scd2_merge

    docs = load_table(spark, sf_dir, "documents")
    old = docs.select("doc_id", "text")
    new = old.where(F.col("doc_id") % 17 != 0).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 13 == 0, F.concat(F.col("text"), F.lit(" [rev2]"))
        ).otherwise(F.col("text")).alias("text"),
    ).unionAll(
        old.where(F.col("doc_id") % 19 == 0).select(
            (F.col("doc_id") + F.lit(500_000)).alias("doc_id"), "text"
        )
    )
    return scd2_merge(old, new, "doc_id", "text").orderBy(
        "key", "valid_from", "fingerprint"
    )


def unicode_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-pins the r8 UNICODE analyzer cross-engine (the reference's
    Lucene standard analyzer keeps Unicode letters; its corpus is Spanish —
    reference indexes.py:73-86, seed.py:189-193): every doc gets a planted
    accented suffix chosen by doc_id arithmetic, with UPPERCASE accented
    forms so lower() is exercised on non-ASCII too; both engines then
    tokenize with the same [^\\p{L}\\p{N}]+ class and must agree on token
    counts AND on which tokens contain non-ASCII letters. Map-only +
    one small aggregate."""
    from ..functions.text import tokens as tok_expr

    docs = load_table(spark, sf_dir, "documents")
    words = F.array(
        F.lit("Menú"), F.lit("CAFÉ"), F.lit("Ñandú"), F.lit("ÁGUILA")
    )
    planted = docs.select(
        "doc_id",
        "lang",
        F.concat(
            F.col("text"),
            F.lit(" "),
            F.element_at(words, (F.col("doc_id") % 4 + 1).cast("int")),
            F.lit(" descripción única 42"),
        ).alias("text"),
    )
    toks = tok_expr(F.col("text"))
    accented = F.filter(toks, lambda t: t.rlike("[^\\x00-\\x7F]"))
    per_doc = planted.select(
        "doc_id",
        "lang",
        F.size(toks).alias("n_tokens"),
        F.size(accented).alias("n_accented"),
        F.array_distinct(accented).alias("acc_set"),
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("sum_tokens"),
            F.sum("n_accented").alias("sum_accented"),
            F.array_sort(
                F.array_distinct(F.flatten(F.collect_list("acc_set")))
            ).alias("accented_vocab"),
        )
        .select(
            "lang",
            "n_docs",
            "sum_tokens",
            "sum_accented",
            F.array_join("accented_vocab", ",").alias("accented_vocab"),
        )
        .orderBy("lang")
    )


def quality_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum buckets for training order: documents quartiled by the
    composite quality score, per bucket doc and token budgets. The bucket
    boundaries are EXACT interpolated quartiles of the rounded score
    (percentile ≡ DuckDB quantile_cont, parity already pinned by
    value_percentiles) computed as a 1-row relation and broadcast — a
    map-only CASE per doc, never a global-ORDER-BY ntile window (which
    would single-task a 100 TB sort). Boundary ties are deterministic:
    scores are pre-rounded to 6 dp on both engines and buckets use <=
    against identical threshold values."""
    docs = load_table(spark, sf_dir, "documents")
    scored = textstats.quality_score(docs, "doc_id", "text").select(
        "doc_id", "n_tokens", "quality"
    )
    qs = scored.agg(
        F.percentile("quality", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))).alias("q")
    ).select(
        F.round(F.col("q")[0], 6).alias("q1"),
        F.round(F.col("q")[1], 6).alias("q2"),
        F.round(F.col("q")[2], 6).alias("q3"),
    )
    bucketed = scored.crossJoin(F.broadcast(qs)).select(
        "n_tokens",
        "quality",
        F.when(F.col("quality") <= F.col("q1"), F.lit(1))
        .when(F.col("quality") <= F.col("q2"), F.lit(2))
        .when(F.col("quality") <= F.col("q3"), F.lit(3))
        .otherwise(F.lit(4))
        .alias("bucket"),
    )
    return (
        bucketed.groupBy("bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("token_budget"),
            # mean through DECIMAL: quality is already 6 dp, so the decimal
            # sum is exact and associative (partition-order stable); one
            # double division at the end is bit-identical across engines
            F.round(
                F.sum(F.col("quality").cast("decimal(18,6)")).cast("double")
                / F.count("*"),
                6,
            ).alias("mean_quality"),
        )
        .orderBy("bucket")
    )


def dedup_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core (k=2) of the >=0.5-jaccard near-dup graph: the DENSE
    duplicate communities — nodes that keep >= 2 near-dup neighbors after
    iterative peeling — separating template farms / mirror sets from
    incidental pairwise matches (which connected components cannot do:
    a chain is one component but has an empty 2-core). Oracle replays the
    peeling as a fixed-depth unrolled chain (idempotent past convergence)."""
    from ..operators.graph import kcore

    docs = load_table(spark, sf_dir, "documents")
    sh = dedup.shingle_table(docs, "doc_id", "text", n=3, with_size=True)
    pairs = dedup.jaccard_pairs(sh, min_jaccard=0.5)
    return (
        kcore(pairs, 2, "id_a", "id_b")
        .select(F.col("node").alias("doc_id"), "degree")
        .orderBy("doc_id")
    )


def link_prediction_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-citation link prediction over the synthetic directed link graph
    (the same two-formula edge derivation as link_hop_distances /
    pagerank_top_docs): for every source pair (a < b) sharing a cited
    target, the common-neighbor count and the resource-allocation index
    Σ 1/indeg(shared) — the classic 'which docs should link' signal.

    The RA term is fixed-point: floor(1e6 / indeg) summed as BIGINT
    (``ra_fp6``, micro-units) — indeg is a small integer, so both engines
    compute the identical double quotient and the sum is exact integer
    arithmetic; a raw double Σ 1/indeg would be partial-order-dependent at
    the last ULP.

    Scale: pure inverted-index shape — edges shuffle ONCE by dst into a
    per-target src set (collect_set doubles as the distinct), indeg =
    size(set), and the pair fan-out is a double explode of that set
    (Σ indeg² per target, never all-pairs, NO self-join — a join
    formulation re-derived and re-scanned the edge relation three times),
    then one groupBy(a,b). A hub target with indeg d contributes d² pairs:
    at real web-graph skew, cap size(srcs) or salt hub dsts exactly as
    ngram_jaccard_pairs documents for hot shingles."""
    docs = load_table(spark, sf_dir, "documents")
    n = docs.count()
    ids = docs.select("doc_id")
    edges = ids.select(
        F.col("doc_id").alias("src"),
        ((F.col("doc_id") * 31 + 7) % n).alias("dst"),
    ).unionAll(
        ids.select(
            F.col("doc_id").alias("src"),
            ((F.col("doc_id") * 17 + 3) % n).alias("dst"),
        )
    )
    by_dst = edges.groupBy("dst").agg(
        F.collect_set("src").alias("srcs")
    )
    return (
        by_dst.select(F.size("srcs").alias("indeg"), "srcs")
        .select("indeg", F.explode("srcs").alias("a"), "srcs")
        .select("indeg", "a", F.explode("srcs").alias("b"))
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(
            F.count("*").alias("common_neighbors"),
            F.sum(F.floor(F.lit(1_000_000) / F.col("indeg")))
            .cast("long")
            .alias("ra_fp6"),
        )
        .orderBy(F.desc("ra_fp6"), F.asc("a"), F.asc("b"))
        .limit(25)
    )


def _media_fingerprints(spark: SparkSession, sf_dir: str, kind: str) -> DataFrame:
    """The checkpointed (id, fingerprint) relation of the synthetic media
    corpus, an artifact per media kind. The lanes re-derive
    encode→decode→fingerprint lineage on every fresh build (the r11 bench
    measured 6.2 s of analysis for one phash plan, almost all of it the eager
    checkpoint's decode job), but the relation itself is a tiny (id, int64)
    table — the at-scale analog is writing it once and joining readers. The
    registry's applicationId check rebuilds it under a new SparkContext, in
    which the localCheckpoint blocks no longer exist."""
    from .. import multimodal

    def build() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        par = spark.sparkContext.defaultParallelism
        # single-split local fixture; pre-split on a cluster
        if kind == "png":
            media = multimodal.synthetic_png_corpus(docs.repartition(par))
            fp = multimodal.image_fingerprints(media)
        else:
            media = multimodal.synthetic_wav_fp_corpus(docs.repartition(par))
            fp = multimodal.audio_fingerprints(media)
        return fp.localCheckpoint(eager=True)

    return artifacts.get(spark, f"media_fp_{kind}", sf_dir, build)


def image_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image near-duplicates over a REAL-PNG corpus: one
    8×9 grey PNG per doc id (multimodal.synthetic_png_corpus — stdlib
    codec, no dependencies), decoded and dHash-64'd executor-side, then
    banded-LSH joined and Hamming-verified (≤3). The planted brightness
    geometry makes the expected pair set pure id arithmetic — groups of 6
    ids share a base image with nested 0..5-bit perturbations, so the
    oracle replays pairs AND exact Hamming distances from doc_id alone
    while Spark does the full codec → hash → band-join work. The
    checkpointed fingerprint relation is an artifact
    (_media_fingerprints), so repeated builds join the materialized (id, hash)
    table instead of re-running the decode job."""
    from .. import multimodal

    fp = _media_fingerprints(spark, sf_dir, "png")
    return multimodal.banded_hamming_pairs(fp, checkpoint=False)


def audio_fp_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Acoustic near-duplicates over a REAL-WAV corpus: one 1.8 s planted
    square-wave clip per doc (multimodal.synthetic_wav_fp_corpus — stdlib
    RIFF codec), fingerprinted executor-side as dhash64 over the 8×9
    block-RMS loudness matrix and joined through the shared banded-Hamming
    inverted index. The amplitude walks plant the SAME group/flip geometry
    as the PNG lane — groups of 6 ids, nested 0..5-bit perturbations — so
    the identical oracle replays pairs and exact Hamming distances from
    doc_id arithmetic while Spark does full decode → fingerprint → band
    join work on real audio bytes. Fingerprints come from the same
    checkpointed artifact as the image lane (_media_fingerprints)."""
    from .. import multimodal

    fp = _media_fingerprints(spark, sf_dir, "wav")
    return multimodal.banded_hamming_pairs(fp, checkpoint=False)


def semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic pruning (Abbas et al. 2023, arXiv:2303.09540):
    block embeddings into coarse semantic buckets, find within-bucket
    cosine-near pairs, connect them into duplicate groups, and keep one
    representative per group — every vector labeled (bucket, canonical_id,
    is_kept), the corpus-pruning manifest an embedding-dedup pass emits.

    The paper clusters with k-means; the engine-portable blocking here is
    the deterministic 8-bit axis-sign bucket (functions.vector.sign_bucket,
    the identity-projection SimHash member) so the oracle replays blocking
    exactly. Canonical election is min-id, which IS the min-label component
    id — no second election pass. Blocking recall <1 by design (SemDeDup
    trades recall for never comparing across clusters); the oracle applies
    the identical blocking, so the contract pins the implemented semantics.

    Scale: the pair search is an inverted-index self-join on bucket —
    fan-out Σ per-bucket n², never corpus²; a hot bucket is capped the same
    way ngram_jaccard_pairs documents for hot shingles (or raise `bits`).
    Components run on the near-dup pair graph only (pairs ≪ corpus);
    vectors never shuffle — only (vec_id, bucket, 64-dim array) within the
    bucket join, and the label join back is on ids."""
    from ..functions.vector import cosine, sign_bucket
    from ..operators.graph import connected_components

    emb = load_table(spark, sf_dir, "embeddings")
    b = emb.select(
        "vec_id", "embedding", sign_bucket(F.col("embedding"), bits=8).alias("bucket")
    )
    left = b.select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"), "bucket"
    )
    right = b.select(
        F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"), "bucket"
    )
    # threshold on the 6-dp-rounded cosine (embedding_near_dups' contract):
    # raw-double boundary compares could flip membership between engines
    pairs = (
        left.join(right, "bucket")
        .where(F.col("id_a") < F.col("id_b"))
        .where(F.round(cosine(F.col("va"), F.col("vb")), 6) >= 0.3)
        .select("id_a", "id_b")
    )
    comps = connected_components(pairs, "id_a", "id_b")
    return (
        b.join(comps.withColumnRenamed("node", "vec_id"), "vec_id", "left")
        .select(
            "vec_id",
            "bucket",
            F.coalesce(F.col("component"), F.col("vec_id")).alias("canonical_id"),
            (F.coalesce(F.col("component"), F.col("vec_id")) == F.col("vec_id")).alias(
                "is_kept"
            ),
        )
        .orderBy("vec_id")
    )


def embedding_mahalanobis_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 global outliers by diagonal Mahalanobis distance — each
    embedding's squared deviation from the corpus mean, scaled by per-
    dimension variance (whitened distance). Complements
    embedding_centroid_outliers (per-label cosine): this is the unlabeled
    anisotropy-corrected screen for corrupt or out-of-distribution vectors.

    Determinism ladder (the repo's quantize → exact-sum → divide
    discipline): per-dim sufficient statistics are exact DECIMAL sums of
    7-dp-quantized components, so mean/variance are one double division
    each; each dimension's distance term is rounded to 6 dp and carried as
    DECIMAL(18,6) so the 64-term sum is associative and partition-order-
    proof; rank orders by that exact sum with vec_id tiebreak.

    Scale: one posexplode + (dim)-grouped aggregate (shuffle rows =
    dims × partitions partial sums), the 64-row stats relation broadcasts
    back onto the same posexplode, and one groupBy(vec_id) reassembles
    distances — map-side-combined everywhere, nothing corpus-quadratic."""
    emb = load_table(spark, sf_dir, "embeddings")
    pos = emb.select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("idx", "val"),
    ).select("vec_id", "idx", F.round(F.col("val"), 7).cast("decimal(18,7)").alias("v"))
    stats = pos.groupBy("idx").agg(
        F.count("*").alias("n"),
        F.sum("v").alias("s"),
        F.sum(F.col("v") * F.col("v")).alias("ss"),
    )
    stats = stats.select(
        "idx",
        (F.col("s").cast("double") / F.col("n").cast("double")).alias("mu"),
        (
            (F.col("ss").cast("double") - F.col("s").cast("double") * F.col("s").cast("double") / F.col("n").cast("double"))
            / F.col("n").cast("double")
        ).alias("var"),
    )
    terms = pos.join(F.broadcast(stats), "idx").select(
        "vec_id",
        F.round(
            (F.col("v").cast("double") - F.col("mu"))
            * (F.col("v").cast("double") - F.col("mu"))
            / F.col("var"),
            6,
        )
        .cast("decimal(18,6)")
        .alias("t"),
    )
    dist = terms.groupBy("vec_id").agg(F.sum("t").cast("double").alias("m2"))
    return (
        dist.orderBy(F.desc("m2"), F.asc("vec_id"))
        .limit(20)
        .select("vec_id", F.round("m2", 6).alias("mahalanobis_sq"))
    )


def ngram_novelty_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty: the share of a doc's distinct word
    3-grams whose FIRST corpus occurrence (min doc_id — ingestion order in
    this corpus) is the doc itself. The dedup-adjacent freshness signal
    training-data curation uses to downweight recombined/boilerplate text:
    novelty 1.0 = all new, 0.0 = every shingle seen in an earlier doc.

    Scale: shingle_table's distinct (id, gram-md5) relation, ONE groupBy(sh)
    for the first-occurrence owner, joined back on the same sh partitioning
    (no second exchange shape), one groupBy(id) rollup. Counts are integers;
    the share is one double division."""
    docs = load_table(spark, sf_dir, "documents")
    sh = dedup.shingle_table(docs, "doc_id", "text", n=3)
    # r13: first-occurrence owner as a window min over the same sh
    # partitioning — one exchange, one shingle-kernel run (the groupBy +
    # join-back shape ran the kernel once per side and shuffled twice)
    return (
        sh.withColumn("first_id", F.min("id").over(Window.partitionBy("sh")))
        .groupBy("id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(F.when(F.col("first_id") == F.col("id"), 1).otherwise(0)).alias(
                "n_novel"
            ),
        )
        .select(
            F.col("id").alias("doc_id"),
            "n_shingles",
            F.col("n_novel").cast("long").alias("n_novel"),
            F.round(
                F.col("n_novel").cast("double") / F.col("n_shingles").cast("double"), 6
            ).alias("novelty"),
        )
        .orderBy("doc_id")
    )


def katz_central_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Katz centrality (operators/graph.katz_centrality, α=0.05, 6
    iterations) over the same deterministic synthetic link graph as
    pagerank_top_docs — walk-counting authority that complements PageRank's
    degree-normalized rank (a page fed by many low-outdegree pages scores
    differently under the two). Top-20; the DECIMAL(38,12) contribution
    ladder makes the fixpoint bit-replayable as 6 chained CTEs."""
    from ..operators.graph import katz_centrality

    docs = load_table(spark, sf_dir, "documents")
    n = docs.count()
    ids = docs.select("doc_id")
    edges = ids.select(
        F.col("doc_id").alias("src"),
        ((F.col("doc_id") * 31 + 7) % n).alias("dst"),
    ).unionAll(
        ids.select(
            F.col("doc_id").alias("src"),
            ((F.col("doc_id") * 17 + 3) % n).alias("dst"),
        )
    )
    out = katz_centrality(edges, alpha=0.05, iterations=6)
    return (
        out.select(F.col("node").alias("doc_id"), F.round("katz", 10).alias("katz"))
        .orderBy(F.desc("katz"), F.asc("doc_id"))
        .limit(20)
    )


def flesch_reading_ease(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch Reading Ease per document (206.835 − 1.015·words/sentences −
    84.6·syllables/words, Flesch 1948) with the standard cheap proxies:
    sentences = non-empty [.!?]+ splits, syllables = vowel-run count — the
    readability band filter quality-curriculum builders use alongside the
    Gopher rules.

    Pure Catalyst (three regexp passes per doc, zero Python, zero shuffle
    beyond the scan); counts are integers and the score is one double
    expression, so the oracle replays it exactly. Both engines interpret
    the character-class regexes identically (no engine-specific classes)."""
    docs = load_table(spark, sf_dir, "documents")
    from ..functions.text import tokens

    n_words = F.size(tokens(F.col("text")))
    n_sent = F.size(
        F.filter(F.split(F.col("text"), r"[.!?]+"), lambda s: F.trim(s) != "")
    )
    n_syll = F.size(F.expr("regexp_extract_all(lower(text), '[aeiouy]+', 0)"))
    return docs.select(
        "doc_id",
        n_sent.alias("n_sentences"),
        n_words.alias("n_words"),
        n_syll.alias("n_syllables"),
        F.round(
            F.lit(206.835)
            - F.lit(1.015)
            * (n_words.cast("double") / F.greatest(n_sent, F.lit(1)).cast("double"))
            - F.lit(84.6)
            * (n_syll.cast("double") / F.greatest(n_words, F.lit(1)).cast("double")),
            6,
        ).alias("fre"),
    ).orderBy("doc_id")


def token_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the top-100 corpus terms: OLS of ln(freq) on
    ln(rank) — slope ≈ −1 for natural language, and drift in the exponent
    is a cheap corpus-health signal (boilerplate flattens it, spam steepens
    it). One row: n_terms, slope, intercept, r2.

    Determinism: term counts are integers; each regression coordinate is
    ln() quantized to 12 dp and carried as DECIMAL(18,12), so all five
    sufficient statistics are exact decimal sums (the OLS-trends
    discipline) and slope/intercept/r² are single double expressions over
    them. Scale: one token aggregate (map-side combined) → TakeOrdered
    top-100 → the regression runs on 100 rows."""
    from ..functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(tokens(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("term"))
        .limit(100)
    )
    ranked = freq.select(
        "n",
        F.row_number()
        .over(Window.orderBy(F.desc("n"), F.asc("term")))
        .alias("rank"),
    )
    dec = "decimal(18,12)"
    xy = ranked.select(
        F.round(F.log(F.col("rank").cast("double")), 12).cast(dec).alias("x"),
        F.round(F.log(F.col("n").cast("double")), 12).cast(dec).alias("y"),
    )
    s = xy.agg(
        F.count("*").cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    r2_num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) * (
        F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    )
    r2_den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")) * (
        F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    )
    return s.select(
        F.col("n").cast("long").alias("n_terms"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 6).alias(
            "intercept"
        ),
        F.round(r2_num / r2_den, 6).alias("r2"),
    )


def source_keyness_g2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-comparison keyness: Dunning's log-likelihood G² (Dunning 1993)
    of each term between the 'en' slice and the rest of the corpus — the
    standard "which words characterize this subcorpus" statistic behind
    contamination triage and domain-mix audits (stronger than PMI/TF-IDF
    for low counts). Top-25 terms by G², with the favored side.

    All four 2×2 cells derive from one (term, is_en) integer aggregate plus
    a broadcast 1-row total; G² is a single fixed-shape double expression
    (zero cells contribute 0 by the 0·ln0 convention), so both engines
    compute bit-identical statistics. One token exchange; top-25 is a
    heap."""
    from ..functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        (F.col("lang") == "en").alias("is_en"),
        F.explode(tokens(F.col("text"))).alias("term"),
    )
    cnt = toks.groupBy("term").agg(
        F.sum(F.when(F.col("is_en"), 1).otherwise(0)).alias("a"),
        F.sum(F.when(F.col("is_en"), 0).otherwise(1)).alias("b"),
    )
    tot = cnt.agg(F.sum("a").alias("ta"), F.sum("b").alias("tb"))
    j = cnt.crossJoin(F.broadcast(tot))
    a, b = F.col("a").cast("double"), F.col("b").cast("double")
    ta, tb = F.col("ta").cast("double"), F.col("tb").cast("double")
    nn = ta + tb
    ca, cb = ta - a, tb - b
    ea = ta * ((a + b) / nn)
    eb = tb * ((a + b) / nn)
    eca = ta * ((ca + cb) / nn)
    ecb = tb * ((ca + cb) / nn)

    def cell(o, e):
        return F.when(o > 0, o * F.log(o / e)).otherwise(F.lit(0.0))

    g2 = F.lit(2.0) * (cell(a, ea) + cell(b, eb) + cell(ca, eca) + cell(cb, ecb))
    return (
        j.select(
            "term",
            F.col("a").cast("long").alias("n_en"),
            F.col("b").cast("long").alias("n_rest"),
            F.round(g2, 6).alias("g2"),
            F.when(a / ta > b / tb, F.lit("en")).otherwise(F.lit("rest")).alias(
                "favors"
            ),
        )
        .orderBy(F.desc("g2"), F.asc("term"))
        .limit(25)
    )


def tfidf_doc_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse TF-IDF cosine near-duplicate pairs ≥ 0.3
    (operators/textstats.tfidf_cosine_pairs): the inverted-index similarity
    join — the lexical-overlap complement to dedup's set-Jaccard and the
    embedding kernels' dense cosine."""
    docs = load_table(spark, sf_dir, "documents")
    return textstats.tfidf_cosine_pairs(
        docs, "doc_id", "text", threshold=0.3, max_df_frac=0.5
    ).select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"), "cos")


def ngram_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric n-gram CONTAINMENT pairs — |A∩B|/|A| per direction — with
    planted partial scrapes (every 25th doc re-inserted TRUNCATED to its
    first half under a shifted id). Containment is the subset/quote
    detector symmetric Jaccard structurally misses: a half-doc inside its
    source has Jaccard ≈ 0.5 (below every dedup threshold) but containment
    ≈ 1.0 — the snippet-vs-source, quote-vs-article relation a training
    corpus must catch to avoid double-counting.

    Same inverted-index shape as jaccard_pairs (shingle join bounds the
    fan-out per shingle, never corpus²); sizes and intersections are
    integers, each containment is one double division rounded 6.

    Plan choice is MEASURED, not assumed (the jaccard_pairs_prefix r7
    lesson repeated for containment in r11): on this df-UNIFORM synthetic
    corpus the prefix-filtered variant (dedup.containment_pairs_prefix,
    provably output-identical, equality pinned in test_jaccard_prefix.py)
    measured 21.8 s vs 4.6 s for this plain join at sf0.1 — rare-first
    prefixes don't collapse fan-out when every shingle's df is ~uniform,
    and the candidate-distinct + anchored-verify overhead dominates. On a
    Zipfian real-web corpus the crossover flips and the prefix operator is
    the 100 TB path (see SCALE.md); the corpus decides, the engine ships
    both."""
    docs = load_table(spark, sf_dir, "documents")
    truncated = docs.where(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 20_000).alias("doc_id"),
        F.expr("substring(text, 1, cast(floor(n_chars / 2) AS INT))").alias(
            "text"
        ),
    )
    corpus = docs.select("doc_id", "text").unionAll(truncated)
    # sizes ride the shingle rows (with_size) instead of a groupBy(id)
    # re-aggregation — one fewer exchange, two fewer joins, and the shingle
    # kernel no longer recomputes for the size subtree (r13; guide §2.4)
    sh = dedup.shingle_table(corpus, "doc_id", "text", n=3, with_size=True)
    a = sh.select(F.col("id").alias("id_a"), "sh", F.col("sz").alias("sa"))
    b = sh.select(F.col("id").alias("id_b"), "sh", F.col("sz").alias("sb"))
    inter = (
        a.join(b, "sh")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "sa", "sb")
        .agg(F.count("*").alias("i"))
    )
    # threshold via the integer predicate i >= ceil(t*sz), NOT the rounded
    # ratio (r11 advice): at ~1e6 shingles a ratio 5e-7 under t rounds up
    # past a 6-dp filter, which would make this plain plan admit pairs the
    # prefix variant provably never generates. Rounding is projection-only;
    # dedup.containment_pairs_prefix and the DuckDB oracle apply the same
    # predicate, so the three stay output-identical at every scale.
    return (
        inter
        .where(
            (F.col("i") >= F.ceil(F.lit(0.8) * F.col("sa")))
            | (F.col("i") >= F.ceil(F.lit(0.8) * F.col("sb")))
        )
        .select(
            "id_a",
            "id_b",
            F.round(F.col("i") / F.col("sa").cast("double"), 6).alias(
                "cont_a_in_b"
            ),
            F.round(F.col("i") / F.col("sb").cast("double"), 6).alias(
                "cont_b_in_a"
            ),
        )
        .orderBy("id_a", "id_b")
    )


def harmonic_central_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Landmark harmonic centrality (operators/graph.harmonic_centrality)
    over the shared synthetic link graph, landmarks = doc_id % 50 = 0 (the
    BFS seed fixture) — top-20 most-reachable docs by Σ 1/hops from the
    landmark sample, the closeness-family rank beside PageRank's and Katz's
    walk-counting ranks."""
    from ..operators.graph import harmonic_centrality

    docs = load_table(spark, sf_dir, "documents")
    n = docs.count()
    ids = docs.select("doc_id")
    edges = ids.select(
        F.col("doc_id").alias("src"),
        ((F.col("doc_id") * 31 + 7) % n).alias("dst"),
    ).unionAll(
        ids.select(
            F.col("doc_id").alias("src"),
            ((F.col("doc_id") * 17 + 3) % n).alias("dst"),
        )
    )
    landmarks = ids.where(F.col("doc_id") % 50 == 0)
    out = harmonic_centrality(edges, landmarks, max_hops=6)
    return (
        out.select("node", F.round("harmonic", 10).alias("harmonic"))
        .orderBy(F.desc("harmonic"), F.asc("node"))
        .limit(20)
    )


def embedding_pc1_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding anisotropy probe (operators/pca.pc1_power_iteration): the
    dominant covariance eigenvalue and its explained-variance share after
    8 relational power steps — high share = collapsing embedding space."""
    from ..operators.pca import pc1_power_iteration

    emb = load_table(spark, sf_dir, "embeddings")
    return pc1_power_iteration(emb, "vec_id", "embedding", iterations=8)


def minhash_lsh_eval(
    spark: SparkSession, sf_dir: str, *, sample_frac: float | None = None
) -> DataFrame:
    """Self-attesting sketch quality for the MinHash-LSH dedup pipeline:
    candidate RECALL (did 4×2 banding surface every exact-Jaccard ≥ 0.7
    pair?) and candidate PRECISION (what fraction of surfaced candidates
    survive the exact verify — the wasted-verify workload). The verified
    output is correct by construction (exact phase); this row is the
    evidence the cheap phase isn't silently missing pairs — the same
    in-plan attestation contract as the ANN recall floors and HLL bounds.

    Cost is the point: the attestation runs the ENTIRE exact-Jaccard truth
    join alongside the LSH pipeline, by definition — that is what makes
    the recall number ground truth rather than an estimate. At bench SFs
    the full audit is cheap; at 100 TB you audit a deterministic SAMPLE:
    ``sample_frac`` keeps the docs whose ``pmod(hash(doc_id), 1000) <
    frac*1000`` (hash-stable, reproducible, no RNG state) and both the
    truth join and the LSH pipeline run on the same slice, so the
    recall/precision contract is unchanged — only its confidence interval
    widens with 1/frac. Default None = full corpus (the declared-oracle
    behavior).

    One row from three integer counts (broadcast 1-row aggregates); the
    two ratios are single double divisions."""
    docs = load_table(spark, sf_dir, "documents")
    if sample_frac is not None:
        if not 0.0 < sample_frac <= 1.0:
            raise ValueError(f"sample_frac must be in (0, 1], got {sample_frac}")
        docs = docs.where(
            F.pmod(F.hash("doc_id"), F.lit(1000)) < int(sample_frac * 1000)
        )
    sigs = dedup.minhash_signatures(
        docs, "doc_id", "text", num_hashes=8, shingle_n=3
    )
    cands = dedup.lsh_candidates(sigs, bands=4, rows_per_band=2)
    sh = dedup.shingle_table(docs, "doc_id", "text", n=3, with_size=True)
    truth = dedup.jaccard_pairs(sh, min_jaccard=0.7).select("id_a", "id_b")
    tp = truth.join(cands, ["id_a", "id_b"], "left_semi")
    r_truth = truth.agg(F.count("*").alias("n_truth"))
    r_cand = cands.agg(F.count("*").alias("n_candidates"))
    r_tp = tp.agg(F.count("*").alias("tp"))
    return (
        r_truth.crossJoin(F.broadcast(r_cand))
        .crossJoin(F.broadcast(r_tp))
        .select(
            "n_truth",
            "n_candidates",
            "tp",
            F.round(
                F.col("tp").cast("double") / F.col("n_truth").cast("double"), 6
            ).alias("candidate_recall"),
            F.round(
                F.col("tp").cast("double") / F.col("n_candidates").cast("double"),
                6,
            ).alias("candidate_precision"),
        )
    )


def dedup_token_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-budget accounting for the dedup pass: per source, total
    tokens vs tokens surviving canonical election (the ≥0.5-Jaccard
    component graph, longest-doc-wins — dedup_canonical's exact pipeline),
    and the savings fraction — the number a data lead actually asks for
    ("what does dedup buy us, per source?").

    Composes the shared closure machinery with one token-count aggregate;
    the join back to docs rides doc_id keys, sources roll up to ≤|sources|
    rows. Counts are integers; the fraction is one double division.

    Reads the MATERIALIZED ≥0.5-Jaccard components table
    (components_materialized) rather than re-running shingles → pairs →
    closure per call — the same one-fixpoint-job-many-readers shape as
    dedup_canonical_shared; per-call cost is a parquet read."""
    from ..functions.text import token_count

    docs = load_table(spark, sf_dir, "documents")
    comps = components_materialized(spark, sf_dir)
    labeled = dedup.canonicalize(
        docs, components=comps, id_col="doc_id", length_col="n_chars"
    )
    toks = docs.select(
        "doc_id", "source", token_count(F.col("text")).alias("n_tok")
    )
    j = toks.join(labeled.select("doc_id", "is_kept"), "doc_id")
    return (
        j.groupBy("source")
        .agg(
            F.sum("n_tok").cast("long").alias("total_tokens"),
            F.sum(F.when(F.col("is_kept"), F.col("n_tok")).otherwise(0))
            .cast("long")
            .alias("kept_tokens"),
        )
        .select(
            "source",
            "total_tokens",
            "kept_tokens",
            F.round(
                F.lit(1.0)
                - F.col("kept_tokens").cast("double")
                / F.col("total_tokens").cast("double"),
                6,
            ).alias("savings_frac"),
        )
        .orderBy("source")
    )


def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for each anchor
    vector, the single most-similar corpus vector carrying a DIFFERENT
    label — the near-miss that teaches an embedding model its decision
    boundary (the in-batch-negatives upgrade every retrieval recipe uses;
    cf. DPR, Karpukhin 2020). Exact cosine with the Atlas rescale, so the
    oracle verifies the mined pair value-for-value, not just shape.

    Plan: anchors (a fixed tiny query set) broadcast against the corpus —
    the knn_join shape: score JVM-side in one codegen stage, filter
    label mismatch BEFORE the top-k (pre-filter inside ANN, reference
    backend/api.py filter semantics), then a **partition-local top-1
    prune** (topk_per_group — local sort, no exchange, streaming
    first-1-per-anchor Arrow pass) before the anchors×1 window pick, so
    the window re-ranks at most |corpus_partitions|·|anchors| rows instead
    of funnelling the full scored relation into |anchors| reducers. The
    corpus scans once regardless of anchor count; at 100 TB the scan is
    the cost and the mined pairs are queries-sized."""
    from ..functions.vector import atlas_score
    from ..operators.knn import topk_per_group

    emb = load_table(spark, sf_dir, "embeddings")
    anchors = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("anchor_label"),
        F.col("embedding").alias("qvec"),
    )
    scored = (
        emb.crossJoin(F.broadcast(anchors))
        .where(F.col("label") != F.col("anchor_label"))
        .select(
            "anchor_id",
            "anchor_label",
            F.col("vec_id").alias("neg_id"),
            F.col("label").alias("neg_label"),
            F.round(atlas_score(F.col("embedding"), F.col("qvec"), "cosine"), 6).alias(
                "score"
            ),
        )
    )
    return topk_per_group(
        scored, 1, group_col="anchor_id", score_col="score", id_col="neg_id"
    ).orderBy("anchor_id")


def ann_dim_truncation_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style dimension-truncation audit (Kusupati 2022): how
    much of the exact full-dimension top-k does a search over only the
    FIRST 16 of 64 dimensions recover? Truncated-prefix search is the
    cheapest ANN accelerator there is — 4× less memory bandwidth, no
    training, no index — and unlike IVF/LSH/PQ it is fully deterministic,
    so the oracle replays BOTH sides and pins the recall VALUE itself
    (stronger than the recall_ok attestation the trained indexes get).

    Plan: two knn_join-shaped broadcast scans (full-dim and sliced), a
    queries×k membership join, one tiny aggregate. Slicing happens in the
    scan projection — at scale the truncated pass reads a quarter of the
    vector bytes (with a columnar layout storing prefix dims separately,
    literally a quarter of the I/O)."""
    from ..functions.vector import atlas_score

    emb = load_table(spark, sf_dir, "embeddings")
    k = 10
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec_full"),
        F.slice(F.col("embedding"), 1, 16).alias("qvec_16"),
    )

    def topk(vec_col: str, qvec_col: str, corpus_vec) -> DataFrame:
        scored = emb.crossJoin(F.broadcast(queries)).select(
            "query_id",
            "vec_id",
            F.round(atlas_score(corpus_vec, F.col(qvec_col), "cosine"), 6).alias(
                "score"
            ),
        )
        w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("vec_id"))
        return (
            scored.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= k)
            .select("query_id", "vec_id")
        )

    full = topk("embedding", "qvec_full", F.col("embedding"))
    # rename BOTH key columns on the truncated side: the two top-k relations
    # share lineage (same emb x queries scan), so distinct names keep the
    # self-join's attributes unambiguous
    trunc = topk("embedding", "qvec_16", F.slice(F.col("embedding"), 1, 16)).select(
        F.col("query_id").alias("t_qid"),
        F.col("vec_id").alias("t_id"),
        F.lit(1).alias("hit"),
    )
    joined = full.join(
        trunc,
        (F.col("query_id") == F.col("t_qid")) & (F.col("vec_id") == F.col("t_id")),
        "left",
    ).select(F.col("query_id").alias("qid"), F.coalesce("hit", F.lit(0)).alias("hit"))
    return (
        joined.groupBy("qid")
        .agg(
            F.lit(k).cast("long").alias("k"),
            F.count("*").cast("long").alias("n_exact"),
            F.sum("hit").cast("long").alias("n_recovered"),
            F.round(F.sum("hit").cast("double") / F.lit(float(k)), 6).alias(
                "recall_16"
            ),
        )
        .withColumnRenamed("qid", "query_id")
        .orderBy("query_id")
    )


def hits_hub_authority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs/authorities (operators/graph.hits_scores, 5 iterations)
    over the same deterministic synthetic link graph as pagerank_top_docs /
    katz_central_docs — the mutual-reinforcement pair PageRank collapses
    into one number: a doc that links to authoritative docs is a hub even
    with zero inbound links (the curation signal). Top-20 by authority;
    the DECIMAL(38,12) ladder with per-half-step max-normalization makes
    the fixpoint bit-replayable as 10 chained CTEs."""
    from ..operators.graph import hits_scores

    docs = load_table(spark, sf_dir, "documents")
    n = docs.count()
    ids = docs.select("doc_id")
    # the second edge family is QUADRATIC, not the pagerank fixture's second
    # linear map: two linear maps give a perfectly 2-regular in-degree (every
    # authority ties at the normalized max — HITS degenerates); quadratic
    # residues concentrate (in-degree 1..21 at sf0.001), giving the
    # mutual-reinforcement structure the operator exists to rank
    edges = ids.select(
        F.col("doc_id").alias("src"),
        ((F.col("doc_id") * 31 + 7) % n).alias("dst"),
    ).unionAll(
        ids.select(
            F.col("doc_id").alias("src"),
            ((F.col("doc_id") * F.col("doc_id") + 1) % n).alias("dst"),
        )
    )
    out = hits_scores(edges, iterations=5)
    return (
        out.select(
            F.col("node").alias("doc_id"),
            F.round("hub", 10).alias("hub"),
            F.round("authority", 10).alias("authority"),
        )
        .orderBy(F.desc("authority"), F.asc("doc_id"))
        .limit(20)
    )


def image_channel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brightness statistics over the REAL-PNG corpus: every image is
    decoded executor-side (stdlib codec) and its pixel sum/extrema and
    decoded dimensions reported — the third real-bytes lane query after
    the dHash pair join and the WAV window RMS. The planted brightness
    walks make every statistic pure id arithmetic (row r starts at 128
    and steps ±8 by the bit pattern), so the DuckDB oracle replays sums,
    minima and maxima per image from doc_id alone while Spark does full
    PNG decode work — byte-level decoder faults (filter math, bit depth)
    surface as value mismatches on every row."""
    from .. import multimodal

    docs = load_table(spark, sf_dir, "documents")
    par = spark.sparkContext.defaultParallelism
    media = multimodal.synthetic_png_corpus(docs.repartition(par))
    stats = multimodal.image_brightness_stats(media)
    return stats.select(
        F.col("media_id").alias("doc_id"),
        "n_px",
        "sum_brightness",
        "min_px",
        "max_px",
        F.round(
            F.col("sum_brightness").cast("double") / F.col("n_px").cast("double"),
            6,
        ).alias("mean_brightness"),
    ).orderBy("doc_id")
